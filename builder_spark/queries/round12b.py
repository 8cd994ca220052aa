"""Round-12b surface growth: ordinal-association and inter-rater
machinery — Jonckheere–Terpstra ordered trend, the concordance trio
(Goodman–Kruskal γ / Somers' D / Kendall τ-b from one cell table),
chance-corrected agreement beyond κ (Krippendorff's α, Gwet's AC1),
Bowker's symmetry test (the k×k McNemar), and Page's trend test (the
ordered-alternative Friedman).

Design rules (same as the rest of the graded surface):
- integer-exact cores wherever possible (counts, cents); floats only
  through one identical expression tree on both engines, then
  ``round(·, 4)``;
- SIGNED-ZERO discipline (SURVEY §2 trap 10): every rounded oracle
  float that can be mathematically zero carries ``+ 0.0`` on BOTH
  engines;
- every denominator guarded on BOTH engines (F.when / nullif) so the
  0-row / 1-row degenerate fixtures return defined, equal output;
- widen-before-multiply (``* 1.0 *``) on every int64 product that a
  1000× corpus could overflow (the r11 ADVICE class);
- scale-shaped plans: facts collapse to value/cell/stratum grain in
  ONE combinable pass; global ranks come from the STITCHED machinery
  (never a single-partition window over fact grain); pair algebra
  runs on ≤400-row broadcast cell tables, never fact-grain pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from builder_spark.catalog import load_table
from builder_spark.operators.partitioning import materialize
from builder_spark.registry import register

#: priority ordinal 1..5 — '1-URGENT' … '5-LOW' carry their own rank
_PRIO_ORD_SQL = "CAST(substr(o_orderpriority, 1, 1) AS INT)"


def _prio_ord() -> F.Column:
    """Spark twin of :data:`_PRIO_ORD_SQL`."""
    return F.substring("o_orderpriority", 1, 1).cast("int")


# ---------------------------------------------------------------------------
# Jonckheere–Terpstra ordered-alternative trend test


@register(
    "q_jonckheere_terpstra",
    oracle=f"""
        WITH cells AS (
            SELECT o_totalprice AS price,
                   sum(CASE WHEN {_PRIO_ORD_SQL} = 1 THEN 1 ELSE 0 END) AS c1,
                   sum(CASE WHEN {_PRIO_ORD_SQL} = 2 THEN 1 ELSE 0 END) AS c2,
                   sum(CASE WHEN {_PRIO_ORD_SQL} = 3 THEN 1 ELSE 0 END) AS c3,
                   sum(CASE WHEN {_PRIO_ORD_SQL} = 4 THEN 1 ELSE 0 END) AS c4,
                   sum(CASE WHEN {_PRIO_ORD_SQL} = 5 THEN 1 ELSE 0 END) AS c5
            FROM orders GROUP BY 1
        ),
        st AS (
            SELECT *,
                   sum(c1) OVER w AS s1, sum(c2) OVER w AS s2,
                   sum(c3) OVER w AS s3, sum(c4) OVER w AS s4
            FROM cells
            WINDOW w AS (ORDER BY price
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        agg AS (
            SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
                   CAST(sum(c3) AS BIGINT) AS n3, CAST(sum(c4) AS BIGINT) AS n4,
                   CAST(sum(c5) AS BIGINT) AS n5,
                   sum(c2 * 1.0 * (s1 - c1) + 0.5 * c2 * c1
                       + c3 * 1.0 * ((s1 - c1) + (s2 - c2))
                       + 0.5 * c3 * (c1 + c2)
                       + c4 * 1.0 * ((s1 - c1) + (s2 - c2) + (s3 - c3))
                       + 0.5 * c4 * (c1 + c2 + c3)
                       + c5 * 1.0 * ((s1 - c1) + (s2 - c2) + (s3 - c3)
                                     + (s4 - c4))
                       + 0.5 * c5 * (c1 + c2 + c3 + c4)) AS jt
            FROM st
        ),
        z AS (
            SELECT n1 + n2 + n3 + n4 + n5 AS n, jt,
                   ((n1 + n2 + n3 + n4 + n5) * 1.0 * (n1 + n2 + n3 + n4 + n5)
                    - (n1 * 1.0 * n1 + n2 * 1.0 * n2 + n3 * 1.0 * n3
                       + n4 * 1.0 * n4 + n5 * 1.0 * n5)) / 4 AS e,
                   ((n1 + n2 + n3 + n4 + n5) * 1.0 * (n1 + n2 + n3 + n4 + n5)
                        * (2 * (n1 + n2 + n3 + n4 + n5) + 3)
                    - (n1 * 1.0 * n1 * (2 * n1 + 3) + n2 * 1.0 * n2 * (2 * n2 + 3)
                       + n3 * 1.0 * n3 * (2 * n3 + 3)
                       + n4 * 1.0 * n4 * (2 * n4 + 3)
                       + n5 * 1.0 * n5 * (2 * n5 + 3))) / 72 AS v
            FROM agg
        )
        SELECT CAST(n AS BIGINT) AS n_orders,
               round(jt, 4) AS jt_stat,
               round((jt - e) / nullif(sqrt(CASE WHEN v > 0 THEN v END), 0), 4)
                   + 0.0 AS jt_z,
               CAST(CASE WHEN (jt - e)
                              / nullif(sqrt(CASE WHEN v > 0 THEN v END), 0)
                              > 1.6449
                    THEN 1 ELSE 0 END AS INT) AS trend_detected
        FROM z
    """,
    category="analytics",
)
def q_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere–Terpstra test for an ORDERED location trend of order
    value across the five priority classes: JT = Σ_{i<j} U_ij (pairwise
    Mann–Whitney counts between every lower and higher priority, ties
    at half weight), z-scored with the tie-uncorrected null moments
    E = (N² − Σnᵢ²)/4, V = [N²(2N+3) − Σnᵢ²(2nᵢ+3)]/72 against the
    one-sided 1.6449. The ordered-alternative upgrade of
    q_kruskal_wallis (any-difference) and the group analogue of
    q_mann_kendall (time trend) / q_cochran_armitage (proportions).

    Facts collapse to PRICE grain with five per-priority counts in one
    combinable pass; the five cumulative counts come from ONE stitched
    running pass over that grain (no single-partition window), and all
    ten pairwise U's reduce to a per-value closed form over the prefix
    sums — O(distinct values), never the O(n²) pair join. Products
    widen ``* 1.0 *`` before multiply (the r11 ADVICE overflow class);
    every term is an exact integer below 2^53 at graded scales, so the
    double sums are order-independent. Degenerate guards: V ≤ 0
    (single group / single row) yields NULL z on both engines."""
    from builder_spark.operators.partitioning import stitched_running

    g = _prio_ord()
    cells = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_totalprice").alias("price"))
        .agg(
            *[
                F.sum(F.when(g == k, 1).otherwise(0)).alias(f"c{k}")
                for k in range(1, 6)
            ]
        )
    )
    st = stitched_running(
        cells, ["price"], running={f"s{k}": f"c{k}" for k in range(1, 5)}
    )
    term = None
    for j in range(2, 6):
        cj = F.col(f"c{j}")
        lt = None
        tie = None
        for i in range(1, j):
            li = F.col(f"s{i}") - F.col(f"c{i}")
            lt = li if lt is None else lt + li
            tie = F.col(f"c{i}") if tie is None else tie + F.col(f"c{i}")
        t = cj * 1.0 * lt + 0.5 * cj * tie
        term = t if term is None else term + t
    agg = st.agg(
        *[F.sum(f"c{k}").cast("bigint").alias(f"n{k}") for k in range(1, 6)],
        F.sum(term).alias("jt"),
    )
    ns = [F.col(f"n{k}") for k in range(1, 6)]
    n = ns[0] + ns[1] + ns[2] + ns[3] + ns[4]
    e = (n * 1.0 * n - sum(nk * 1.0 * nk for nk in ns)) / 4
    v = (
        n * 1.0 * n * (2 * n + 3)
        - sum(nk * 1.0 * nk * (2 * nk + 3) for nk in ns)
    ) / 72
    sd = F.sqrt(F.when(v > 0, v))
    z = (F.col("jt") - e) / F.when(sd != 0, sd)
    return agg.select(
        n.cast("bigint").alias("n_orders"),
        F.round(F.col("jt"), 4).alias("jt_stat"),
        (F.round(z, 4) + F.lit(0.0)).alias("jt_z"),
        F.when(z > 1.6449, 1).otherwise(0).cast("int").alias("trend_detected"),
    )


# ---------------------------------------------------------------------------
# Goodman–Kruskal gamma / Somers' D / Kendall tau-b


@register(
    "q_somers_gamma",
    oracle=f"""
        WITH d AS (
            SELECT {_PRIO_ORD_SQL} AS px, o_totalprice * 1.0 AS v
            FROM orders
        ),
        q AS (
            SELECT quantile_cont(v, 0.25) AS q1, quantile_cont(v, 0.5) AS q2,
                   quantile_cont(v, 0.75) AS q3
            FROM d
        ),
        cells AS (
            SELECT px,
                   CASE WHEN d.v <= q.q1 THEN 0 WHEN d.v <= q.q2 THEN 1
                        WHEN d.v <= q.q3 THEN 2 ELSE 3 END AS py,
                   CAST(count(*) AS BIGINT) AS o
            FROM d, q GROUP BY 1, 2
        ),
        pairs AS (
            SELECT sum(CASE WHEN b.px > a.px AND b.py > a.py
                            THEN a.o * 1.0 * b.o ELSE 0 END) AS c,
                   sum(CASE WHEN b.px > a.px AND b.py < a.py
                            THEN a.o * 1.0 * b.o ELSE 0 END) AS dd
            FROM cells a, cells b
        ),
        marg AS (
            SELECT sum(o) * 1.0 * (sum(o) - 1) / 2 AS n0,
                   CAST(sum(o) AS BIGINT) AS n,
                   (SELECT sum(nx * 1.0 * (nx - 1) / 2)
                    FROM (SELECT sum(o) AS nx FROM cells GROUP BY px)) AS tx,
                   (SELECT sum(ny * 1.0 * (ny - 1) / 2)
                    FROM (SELECT sum(o) AS ny FROM cells GROUP BY py)) AS ty
            FROM cells
        )
        SELECT m.n AS n_orders,
               round(p.c, 4) AS concordant,
               round(p.dd, 4) AS discordant,
               round((p.c - p.dd) / nullif(p.c + p.dd, 0), 4) + 0.0 AS gk_gamma,
               round((p.c - p.dd) / nullif(m.n0 - m.tx, 0), 4) + 0.0
                   AS somers_d_yx,
               round((p.c - p.dd)
                     / nullif(sqrt(CASE WHEN (m.n0 - m.tx) * (m.n0 - m.ty) > 0
                                        THEN (m.n0 - m.tx) * (m.n0 - m.ty)
                                   END), 0), 4) + 0.0 AS kendall_tau_b
        FROM pairs p, marg m
    """,
    category="analytics",
)
def q_somers_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The concordance trio over one ordinal×ordinal cell table —
    priority class (1-URGENT…5-LOW carries its own rank) against order
    value QUARTILE: Goodman–Kruskal γ = (C−D)/(C+D) (ties dropped),
    Somers' D_{{Y|X}} = (C−D)/(n₀−T_x) (asymmetric, ties on the
    dependent Y penalized), Kendall τ-b = (C−D)/√((n₀−T_x)(n₀−T_y))
    (both margins penalized) — the three classical orderings of the
    same concordant/discordant counts, next to q_kendall_tau (pairwise
    numeric) and q_rank_correlation (Spearman).

    Quartile boundaries come from the stitched exact quantile
    (identical interpolation to DuckDB ``quantile_cont``); facts
    collapse to a ≤20-cell contingency table; C and D are a 400-row
    BROADCAST self cross-join of those cells — never the O(n²)
    fact-grain pair join. All pair counts are exact-integer-valued
    doubles below 2^53 at graded scales (widened ``* 1.0 *`` for the
    1000× case); margins reuse the same cells. Degenerate guards:
    single-cell corpora zero every denominator → NULL on both."""
    from builder_spark.operators.quantiles import quantile_cont_stitched

    d = load_table(spark, sf_dir, "orders").select(
        _prio_ord().alias("px"), (F.col("o_totalprice") * 1.0).alias("v")
    )
    q = quantile_cont_stitched(
        d, "v", {"q1": 0.25, "q2": 0.5, "q3": 0.75}
    ).select("q1", "q2", "q3")
    cells = materialize(
        d.crossJoin(F.broadcast(q))
        .select(
            "px",
            F.when(F.col("v") <= F.col("q1"), 0)
            .when(F.col("v") <= F.col("q2"), 1)
            .when(F.col("v") <= F.col("q3"), 2)
            .otherwise(3)
            .alias("py"),
        )
        .groupBy("px", "py")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    )
    a = cells.select(
        F.col("px").alias("apx"), F.col("py").alias("apy"), F.col("o").alias("ao")
    )
    pairs = a.crossJoin(F.broadcast(cells)).agg(
        F.sum(
            F.when(
                (F.col("px") > F.col("apx")) & (F.col("py") > F.col("apy")),
                F.col("ao") * 1.0 * F.col("o"),
            ).otherwise(0.0)
        ).alias("c"),
        F.sum(
            F.when(
                (F.col("px") > F.col("apx")) & (F.col("py") < F.col("apy")),
                F.col("ao") * 1.0 * F.col("o"),
            ).otherwise(0.0)
        ).alias("dd"),
    )
    tx = (
        cells.groupBy("px")
        .agg(F.sum("o").alias("nx"))
        .agg(F.sum(F.col("nx") * 1.0 * (F.col("nx") - 1) / 2).alias("tx"))
    )
    ty = (
        cells.groupBy("py")
        .agg(F.sum("o").alias("ny"))
        .agg(F.sum(F.col("ny") * 1.0 * (F.col("ny") - 1) / 2).alias("ty"))
    )
    tot = cells.agg(
        (F.sum("o") * 1.0 * (F.sum("o") - 1) / 2).alias("n0"),
        F.sum("o").cast("bigint").alias("n"),
    )
    cd = F.col("c") - F.col("dd")
    tbden = (F.col("n0") - F.col("tx")) * (F.col("n0") - F.col("ty"))
    return (
        pairs.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .select(
            F.col("n").alias("n_orders"),
            F.round(F.col("c"), 4).alias("concordant"),
            F.round(F.col("dd"), 4).alias("discordant"),
            (
                F.round(cd / F.when(F.col("c") + F.col("dd") != 0,
                                    F.col("c") + F.col("dd")), 4)
                + F.lit(0.0)
            ).alias("gk_gamma"),
            (
                F.round(
                    cd
                    / F.when(
                        F.col("n0") - F.col("tx") != 0, F.col("n0") - F.col("tx")
                    ),
                    4,
                )
                + F.lit(0.0)
            ).alias("somers_d_yx"),
            (
                F.round(
                    cd / F.when(F.sqrt(F.when(tbden > 0, tbden)) != 0,
                                F.sqrt(F.when(tbden > 0, tbden))),
                    4,
                )
                + F.lit(0.0)
            ).alias("kendall_tau_b"),
        )
    )


# ---------------------------------------------------------------------------
# Krippendorff's alpha + Gwet's AC1 (vs Cohen's kappa)


@register(
    "q_krippendorff_ac1",
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
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n11,
                   CAST(sum(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n10,
                   CAST(sum(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n01,
                   CAST(sum(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n00
            FROM rated
        ),
        s AS (
            SELECT n, n11, n10, n01, n00,
                   (n11 + n00) * 1.0 / nullif(n, 0) AS po,
                   ((n11 + n10) * 1.0 / nullif(n, 0)
                    + (n11 + n01) * 1.0 / nullif(n, 0)) / 2 AS pi1,
                   2.0 * n00 + n01 + n10 AS m0,
                   2.0 * n11 + n01 + n10 AS m1
            FROM cells
        )
        SELECT n AS n_docs,
               round(po, 4) AS po,
               round(1 - (2.0 * n - 1) * (n01 + n10)
                         / nullif(m0 * m1, 0), 4) + 0.0 AS krippendorff_alpha,
               round((po - 2 * pi1 * (1 - pi1))
                     / nullif(1 - 2 * pi1 * (1 - pi1), 0), 4) + 0.0 AS gwet_ac1,
               round((po - (((n11 + n10) * 1.0 / nullif(n, 0))
                            * ((n11 + n01) * 1.0 / nullif(n, 0))
                            + (1 - (n11 + n10) * 1.0 / nullif(n, 0))
                              * (1 - (n11 + n01) * 1.0 / nullif(n, 0))))
                     / nullif(1 - (((n11 + n10) * 1.0 / nullif(n, 0))
                                   * ((n11 + n01) * 1.0 / nullif(n, 0))
                                   + (1 - (n11 + n10) * 1.0 / nullif(n, 0))
                                     * (1 - (n11 + n01) * 1.0
                                        / nullif(n, 0))), 0), 4)
                   + 0.0 AS cohen_kappa
        FROM s
    """,
    category="llm-pipeline",
)
def q_krippendorff_ac1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's α and Gwet's AC1 beside Cohen's κ for the SAME
    two binary document-quality raters as q_cohen_kappa (char-length ≥
    corpus mean, token-count ≥ corpus mean): α corrects chance from
    the pooled value distribution (2-rater binary closed form
    1 − (2n−1)(n₀₁+n₁₀)/(m₀·m₁) over the coincidence margins), AC1
    from the propensity π of a random rater saying 1 (pₑ = 2π(1−π),
    robust to the prevalence paradox that deflates κ on skewed gates).
    The three-way disagreement of these coefficients IS the deliverable
    — it tells a labeling pipeline whether a low κ means a bad gate or
    just an unbalanced corpus.

    One 1-row broadcast for the gate means, one combinable pass to the
    four agreement cells, closed-form algebra — identical trees on
    both engines, all three denominators guarded (a constant-rating
    corpus nulls α/AC1/κ rather than raising)."""
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
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when((F.col("ra") == 1) & (F.col("rb") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n11"),
        F.sum(F.when((F.col("ra") == 1) & (F.col("rb") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n10"),
        F.sum(F.when((F.col("ra") == 0) & (F.col("rb") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n01"),
        F.sum(F.when((F.col("ra") == 0) & (F.col("rb") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n00"),
    )
    n = F.col("n")
    nn = F.when(n != 0, n)
    po = (F.col("n11") + F.col("n00")) * 1.0 / nn
    pa1 = (F.col("n11") + F.col("n10")) * 1.0 / nn
    pb1 = (F.col("n11") + F.col("n01")) * 1.0 / nn
    pi1 = (pa1 + pb1) / 2
    m0 = 2.0 * F.col("n00") + F.col("n01") + F.col("n10")
    m1 = 2.0 * F.col("n11") + F.col("n01") + F.col("n10")
    pe_g = 2 * pi1 * (1 - pi1)
    pe_k = pa1 * pb1 + (1 - pa1) * (1 - pb1)
    return cells.select(
        n.alias("n_docs"),
        F.round(po, 4).alias("po"),
        (
            F.round(
                1
                - (2.0 * n - 1)
                * (F.col("n01") + F.col("n10"))
                / F.when(m0 * m1 != 0, m0 * m1),
                4,
            )
            + F.lit(0.0)
        ).alias("krippendorff_alpha"),
        (
            F.round((po - pe_g) / F.when(1 - pe_g != 0, 1 - pe_g), 4) + F.lit(0.0)
        ).alias("gwet_ac1"),
        (
            F.round((po - pe_k) / F.when(1 - pe_k != 0, 1 - pe_k), 4) + F.lit(0.0)
        ).alias("cohen_kappa"),
    )


# ---------------------------------------------------------------------------
# Bowker's symmetry test (k×k McNemar)


@register(
    "q_bowker_symmetry",
    oracle="""
        WITH h1 AS (
            SELECT o_custkey AS ck,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) * 1.0 AS s
            FROM orders WHERE o_orderdate < DATE '1995-06-17' GROUP BY 1
        ),
        h2 AS (
            SELECT o_custkey AS ck,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) * 1.0 AS s
            FROM orders WHERE o_orderdate >= DATE '1995-06-17' GROUP BY 1
        ),
        q1 AS (
            SELECT quantile_cont(s, 0.25) AS a, quantile_cont(s, 0.5) AS b,
                   quantile_cont(s, 0.75) AS c
            FROM h1 WHERE ck IN (SELECT ck FROM h2)
        ),
        q2 AS (
            SELECT quantile_cont(s, 0.25) AS a, quantile_cont(s, 0.5) AS b,
                   quantile_cont(s, 0.75) AS c
            FROM h2 WHERE ck IN (SELECT ck FROM h1)
        ),
        graded AS (
            SELECT CASE WHEN h1.s <= q1.a THEN 0 WHEN h1.s <= q1.b THEN 1
                        WHEN h1.s <= q1.c THEN 2 ELSE 3 END AS g1,
                   CASE WHEN h2.s <= q2.a THEN 0 WHEN h2.s <= q2.b THEN 1
                        WHEN h2.s <= q2.c THEN 2 ELSE 3 END AS g2
            FROM h1 JOIN h2 USING (ck), q1, q2
        ),
        cells AS (
            SELECT g1, g2, CAST(count(*) AS BIGINT) AS o
            FROM graded GROUP BY 1, 2
        ),
        grid AS (
            SELECT i.i AS g1, j.j AS g2
            FROM (SELECT unnest([0, 1, 2, 3]) AS i) i,
                 (SELECT unnest([0, 1, 2, 3]) AS j) j
        ),
        dense AS (
            SELECT grid.g1, grid.g2, coalesce(cells.o, 0) AS o
            FROM grid LEFT JOIN cells USING (g1, g2)
        ),
        pairterms AS (
            SELECT a.o AS nij, b.o AS nji
            FROM dense a JOIN dense b ON a.g1 = b.g2 AND a.g2 = b.g1
            WHERE a.g1 < a.g2
        ),
        agg AS (
            SELECT (SELECT CAST(count(*) AS BIGINT) FROM graded) AS n,
                   sum(CASE WHEN nij + nji > 0
                            THEN (nij - nji) * 1.0 * (nij - nji) / (nij + nji)
                       END) AS bowker,
                   CAST(sum(CASE WHEN nij + nji > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS df_used
            FROM pairterms
        )
        SELECT n AS n_customers,
               round(bowker, 4) + 0.0 AS bowker_chi2,
               df_used,
               CAST(CASE WHEN bowker > CASE df_used
                              WHEN 1 THEN 3.8415 WHEN 2 THEN 5.9915
                              WHEN 3 THEN 7.8147 WHEN 4 THEN 9.4877
                              WHEN 5 THEN 11.0705 WHEN 6 THEN 12.5916
                              ELSE NULL END
                    THEN 1 ELSE 0 END AS INT) AS asymmetric
        FROM agg
    """,
    category="analytics",
)
def q_bowker_symmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowker's symmetry test — the k×k generalization of
    q_mcnemar_test — on customer spend-quartile transitions between
    the first and second half of the order history (split at
    1995-06-17, per-period quartiles): χ² = Σ_{i<j}(n_ij−n_ji)²/(n_ij+
    n_ji) asks whether customers migrate UP the quartile ladder as
    often as DOWN — the significance test behind q_decile_migration's
    descriptive matrix. df = pairs with traffic; fixed χ² criticals by
    df (3.84…12.59).

    Two combinable half-period rollups to customer grain (exact
    cents), per-period quartile boundaries from the stitched exact
    quantile over the joined-customer spine, one ≤16-cell transition
    matrix densified against a literal 4×4 grid (so zero-traffic pairs
    exist on both engines), and the pair algebra runs on 6 broadcast
    rows. Zero-traffic pairs are SKIPPED identically (NULL term, sum
    ignores); an empty or one-sided corpus degrades to NULL χ²."""
    from builder_spark.operators.quantiles import quantile_cont_stitched

    o = load_table(spark, sf_dir, "orders")
    cut = F.lit("1995-06-17").cast("date")
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")

    def half(pred) -> DataFrame:
        return (
            o.filter(pred)
            .groupBy(F.col("o_custkey").alias("ck"))
            .agg((F.sum(cents).cast("bigint") * 1.0).alias("s"))
        )

    h1 = half(F.col("o_orderdate") < cut)
    h2 = half(F.col("o_orderdate") >= cut)
    both = h1.select("ck", F.col("s").alias("s1")).join(
        h2.select("ck", F.col("s").alias("s2")), "ck"
    )
    q1 = quantile_cont_stitched(both, "s1", {"a": 0.25, "b": 0.5, "c": 0.75}).select(
        F.col("a").alias("a1"), F.col("b").alias("b1"), F.col("c").alias("c1")
    )
    q2 = quantile_cont_stitched(both, "s2", {"a": 0.25, "b": 0.5, "c": 0.75}).select(
        F.col("a").alias("a2"), F.col("b").alias("b2"), F.col("c").alias("c2")
    )

    def grade(v, a, b, c):
        return (
            F.when(v <= F.col(a), 0)
            .when(v <= F.col(b), 1)
            .when(v <= F.col(c), 2)
            .otherwise(3)
        )

    cells = (
        both.crossJoin(F.broadcast(q1))
        .crossJoin(F.broadcast(q2))
        .select(
            grade(F.col("s1"), "a1", "b1", "c1").alias("g1"),
            grade(F.col("s2"), "a2", "b2", "c2").alias("g2"),
        )
        .groupBy("g1", "g2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    )
    grid = spark.createDataFrame(
        [(i, j) for i in range(4) for j in range(4)], "g1 int, g2 int"
    )
    dense = materialize(
        grid.join(F.broadcast(cells), ["g1", "g2"], "left")
        .select("g1", "g2", F.coalesce(F.col("o"), F.lit(0)).alias("o"))
    )
    pairs = (
        dense.select(
            F.col("g1").alias("ai"), F.col("g2").alias("aj"), F.col("o").alias("nij")
        )
        .join(
            dense.select(
                F.col("g2").alias("ai"),
                F.col("g1").alias("aj"),
                F.col("o").alias("nji"),
            ),
            ["ai", "aj"],
        )
        .filter(F.col("ai") < F.col("aj"))
    )
    tot = F.col("nij") + F.col("nji")
    n_cust = dense.agg(F.sum("o").cast("bigint").alias("n"))
    agg = pairs.agg(
        F.sum(
            F.when(tot > 0, (F.col("nij") - F.col("nji")) * 1.0
                   * (F.col("nij") - F.col("nji")) / tot)
        ).alias("bowker"),
        F.sum(F.when(tot > 0, 1).otherwise(0)).cast("bigint").alias("df_used"),
    )
    crit = (
        F.when(F.col("df_used") == 1, 3.8415)
        .when(F.col("df_used") == 2, 5.9915)
        .when(F.col("df_used") == 3, 7.8147)
        .when(F.col("df_used") == 4, 9.4877)
        .when(F.col("df_used") == 5, 11.0705)
        .when(F.col("df_used") == 6, 12.5916)
    )
    return agg.crossJoin(F.broadcast(n_cust)).select(
        F.col("n").alias("n_customers"),
        (F.round(F.col("bowker"), 4) + F.lit(0.0)).alias("bowker_chi2"),
        F.col("df_used"),
        F.when(F.col("bowker") > crit, 1).otherwise(0).cast("int").alias(
            "asymmetric"
        ),
    )


# ---------------------------------------------------------------------------
# Page's trend test (ordered-alternative Friedman)


@register(
    "q_page_trend",
    oracle=f"""
        WITH cell AS (
            SELECT c.c_nationkey AS nk, {_PRIO_ORD_SQL} AS prio,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS s
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2
        ),
        full_blocks AS (
            SELECT nk FROM cell GROUP BY nk HAVING count(*) = 5
        ),
        kept AS (
            SELECT cell.nk, prio, s * 1.0 / n AS avg_v
            FROM cell JOIN full_blocks USING (nk)
        ),
        ranked AS (
            SELECT a.nk, a.prio,
                   1 + sum(CASE WHEN b.avg_v < a.avg_v
                                OR (b.avg_v = a.avg_v AND b.prio < a.prio)
                           THEN 1 ELSE 0 END) AS rk
            FROM kept a JOIN kept b ON a.nk = b.nk
            GROUP BY a.nk, a.prio
        ),
        agg AS (
            SELECT CAST(count(DISTINCT nk) AS BIGINT) AS b,
                   CAST(sum(prio * rk) AS BIGINT) AS l
            FROM ranked
        )
        SELECT b AS n_blocks, l AS page_l,
               round((l - 45.0 * b)
                     / nullif(5 * sqrt(CASE WHEN b > 0 THEN b * 1.0 END), 0), 4)
                   + 0.0 AS page_z,
               CAST(CASE WHEN abs((l - 45.0 * b)
                              / nullif(5 * sqrt(CASE WHEN b > 0
                                                THEN b * 1.0 END), 0))
                              > 1.96
                    THEN 1 ELSE 0 END AS INT) AS trend_detected
        FROM agg
    """,
    category="analytics",
)
def q_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's trend test — the ORDERED-alternative Friedman — on mean
    order value across the five priority classes within 25 nation
    blocks: rank the five treatment means inside each complete block,
    L = Σ_blocks Σ_j j·r_j, z = (L − bk(k+1)²/4)/√(bk²(k+1)²(k−1)/144)
    (k=5 ⇒ E=45b, V=25b). Where q_friedman_test asks "do priorities
    differ at all", Page asks "do they move MONOTONICALLY with the
    priority order" — strictly more powerful when the alternative is
    ordered.

    One join + combinable rollup to the 125-cell (nation, priority)
    grain with exact integer cents; incomplete blocks are EXCLUDED on
    both engines (Page requires complete blocks); within-block ranks
    come from a ≤625-row broadcast self-join comparison on the
    identical (avg, priority) total order — no window at all. The
    exact-cents sums make the avg comparison deterministic across
    engines. Degenerate guard: b = 0 (no complete block) nulls z."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_nationkey").alias("nk")
    )
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    cell = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("nk", _prio_ord().alias("prio"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(cents).cast("bigint").alias("s"),
        )
    )
    full_blocks = cell.groupBy("nk").agg(F.count(F.lit(1)).alias("cnt")).filter(
        F.col("cnt") == 5
    ).select("nk")
    kept = materialize(
        cell.join(F.broadcast(full_blocks), "nk")
        .select("nk", "prio", (F.col("s") * 1.0 / F.col("n")).alias("avg_v"))
    )
    b_side = kept.select(
        F.col("nk"),
        F.col("prio").alias("bprio"),
        F.col("avg_v").alias("bavg"),
    )
    ranked = (
        kept.join(F.broadcast(b_side), "nk")
        .groupBy("nk", "prio")
        .agg(
            (
                1
                + F.sum(
                    F.when(
                        (F.col("bavg") < F.col("avg_v"))
                        | (
                            (F.col("bavg") == F.col("avg_v"))
                            & (F.col("bprio") < F.col("prio"))
                        ),
                        1,
                    ).otherwise(0)
                )
            ).alias("rk")
        )
    )
    agg = ranked.agg(
        F.countDistinct("nk").cast("bigint").alias("b"),
        F.sum(F.col("prio") * F.col("rk")).cast("bigint").alias("l"),
    )
    bb = F.col("b")
    sd = 5 * F.sqrt(F.when(bb > 0, bb * 1.0))
    z = (F.col("l") - 45.0 * bb) / F.when(sd != 0, sd)
    return agg.select(
        bb.alias("n_blocks"),
        F.col("l").alias("page_l"),
        (F.round(z, 4) + F.lit(0.0)).alias("page_z"),
        F.when(F.abs(z) > 1.96, 1).otherwise(0).cast("int").alias(
            "trend_detected"
        ),
    )


# ---------------------------------------------------------------------------
# Log loss (cross-entropy) of the deterministic quality score


@register(
    "q_log_loss",
    oracle="""
        WITH scored AS (
            SELECT source, (n_chars * 7 + doc_id) % 997 AS mc,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents
        ),
        grain AS (
            SELECT source, mc,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS y1
            FROM scored GROUP BY 1, 2
        ),
        per_src AS (
            SELECT source,
                   CAST(sum(n) AS BIGINT) AS n,
                   CAST(sum(y1) AS BIGINT) AS n1,
                   -sum(y1 * ln((mc + 0.5) / 997.0)
                        + (n - y1) * ln(1 - (mc + 0.5) / 997.0)) AS nll
            FROM grain GROUP BY 1
        )
        SELECT source, n AS n_docs,
               round(n1 * 1.0 / nullif(n, 0), 4) AS base_rate,
               round(nll / nullif(n, 0), 4) AS log_loss,
               round(-(n1 * 1.0 / nullif(n, 0))
                         * ln(nullif(n1 * 1.0 / nullif(n, 0), 0))
                     - (1 - n1 * 1.0 / nullif(n, 0))
                         * ln(nullif(1 - n1 * 1.0 / nullif(n, 0), 0)), 4)
                   + 0.0 AS base_entropy,
               round(1 - (nll / nullif(n, 0))
                         / nullif(-(n1 * 1.0 / nullif(n, 0))
                                      * ln(nullif(n1 * 1.0 / nullif(n, 0), 0))
                                  - (1 - n1 * 1.0 / nullif(n, 0))
                                      * ln(nullif(1 - n1 * 1.0
                                                  / nullif(n, 0), 0)), 0), 4)
                   + 0.0 AS skill_score
        FROM per_src
        ORDER BY source
    """,
    category="llm-pipeline",
)
def q_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source log loss (cross-entropy) of the deterministic
    synthetic classifier score from q_ece_calibration (p = (mc+½)/997,
    the half-step keeping ln() off 0 and 1; label = lang='en'), next
    to the base-rate entropy and the skill score 1 − LL/H(base) — the
    PROPER-scoring-rule companion of q_brier_decomposition (quadratic)
    and q_ece_calibration (reliability): log loss punishes confident
    misses hardest, so it is the gate number for a filter whose scores
    feed downstream thresholds.

    Facts collapse to (source, score) grain FIRST — mc has only 997
    values, so each ln() is multiplied by an exact integer count and
    the outer sum runs over ≤997 terms per source (the accumulation-
    order discipline from q_jarque_bera). Guards: a pure or empty
    source nulls the entropy/skill instead of ln(0)."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        ((F.col("n_chars") * 7 + F.col("doc_id")) % 997).alias("mc"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    grain = d.groupBy("source", "mc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("y1"),
    )
    p = (F.col("mc") + 0.5) / 997.0
    per_src = grain.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("y1").cast("bigint").alias("n1"),
        (-F.sum(F.col("y1") * F.log(p) + (F.col("n") - F.col("y1")) * F.log(1 - p))).alias(
            "nll"
        ),
    )
    n = F.col("n")
    nn = F.when(n != 0, n)
    r = F.col("n1") * 1.0 / nn
    h = -r * F.log(F.when(r != 0, r)) - (1 - r) * F.log(F.when(1 - r != 0, 1 - r))
    ll = F.col("nll") / nn
    return per_src.select(
        "source",
        n.alias("n_docs"),
        F.round(r, 4).alias("base_rate"),
        F.round(ll, 4).alias("log_loss"),
        (F.round(h, 4) + F.lit(0.0)).alias("base_entropy"),
        (F.round(1 - ll / F.when(h != 0, h), 4) + F.lit(0.0)).alias("skill_score"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Hosmer–Lemeshow calibration test


@register(
    "q_hosmer_lemeshow",
    oracle="""
        WITH scored AS (
            SELECT doc_id, (n_chars * 7 + doc_id) % 997 AS mc,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents
        ),
        ranked AS (
            SELECT mc, y,
                   row_number() OVER (ORDER BY mc, doc_id) AS r,
                   count(*) OVER () AS n
            FROM scored
        ),
        per_dec AS (
            SELECT CAST(((r - 1) * 10) // n AS INT) AS decile,
                   CAST(count(*) AS BIGINT) AS nb,
                   CAST(sum(y) AS BIGINT) AS o1,
                   (sum(mc) + 0.5 * count(*)) / 997.0 AS e1
            FROM ranked GROUP BY 1
        ),
        hl AS (
            SELECT sum((o1 - e1) * (o1 - e1)
                       / nullif(e1 * (1 - e1 / nb), 0)) AS chi2,
                   CAST(count(*) AS BIGINT) AS g
            FROM per_dec
        )
        SELECT d.decile, d.nb AS n_docs,
               round(d.o1 * 1.0 / nullif(d.nb, 0), 4) AS obs_rate,
               round(d.e1 / nullif(d.nb, 0), 4) AS exp_rate,
               round(hl.chi2, 4) + 0.0 AS hl_chi2,
               CAST(CASE WHEN hl.chi2 > 15.5073 AND hl.g = 10
                    THEN 1 ELSE 0 END AS INT) AS miscalibrated
        FROM per_dec d, hl
        ORDER BY d.decile
    """,
    category="llm-pipeline",
)
def q_hosmer_lemeshow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hosmer–Lemeshow goodness-of-calibration on the q_ece_calibration
    score (p = (mc+½)/997): ten EQUAL-FREQUENCY deciles by score rank,
    χ² = Σ (O₁−E₁)²/(E₁(1−E₁/n_b)) against χ²₈ (15.5073). Where
    q_ece_calibration averages |acc−conf| over equal-WIDTH bins, HL
    variance-weights the gaps and yields an actual test decision.

    The decile assignment comes from the STITCHED global rank over the
    (score, doc_id) total order (with_totals supplies N in the same
    pass — no second scan, no single-partition window); per-decile
    O₁/E₁ reduce to exact integer sums, so both engines build every
    float through one division tree. Degenerate guard: empty corpus ⇒
    0 rows; tiny corpora grade against df=8 only when all 10 deciles
    exist."""
    from builder_spark.operators.partitioning import stitched_running

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        ((F.col("n_chars") * 7 + F.col("doc_id")) % 997).alias("mc"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    ranked = stitched_running(d, ["mc", "doc_id"], rank_name="r", with_totals=True)
    per_dec = materialize(
        ranked.select(
            F.expr("CAST(((r - 1) * 10) div r_total AS INT)").alias("decile"),
            "mc",
            "y",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nb"),
            F.sum("y").cast("bigint").alias("o1"),
            ((F.sum("mc") + 0.5 * F.count(F.lit(1))) / 997.0).alias("e1"),
        )
    )
    den = F.col("e1") * (1 - F.col("e1") / F.col("nb"))
    hl = per_dec.agg(
        F.sum(
            (F.col("o1") - F.col("e1"))
            * (F.col("o1") - F.col("e1"))
            / F.when(den != 0, den)
        ).alias("chi2"),
        F.count(F.lit(1)).cast("bigint").alias("g"),
    )
    return (
        per_dec.crossJoin(F.broadcast(hl))
        .select(
            "decile",
            F.col("nb").alias("n_docs"),
            F.round(F.col("o1") * 1.0 / F.when(F.col("nb") != 0, F.col("nb")), 4).alias(
                "obs_rate"
            ),
            F.round(F.col("e1") / F.when(F.col("nb") != 0, F.col("nb")), 4).alias(
                "exp_rate"
            ),
            (F.round(F.col("chi2"), 4) + F.lit(0.0)).alias("hl_chi2"),
            F.when((F.col("chi2") > 15.5073) & (F.col("g") == 10), 1)
            .otherwise(0)
            .cast("int")
            .alias("miscalibrated"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Youden's J and diagnostic likelihood ratios over a threshold sweep


@register(
    "q_youden_lr",
    oracle="""
        WITH scored AS (
            SELECT (n_chars * 7 + doc_id) % 997 AS mc,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents
        ),
        grid AS (SELECT unnest([199, 399, 599, 799]) AS thr),
        cells AS (
            SELECT g.thr,
                   CAST(sum(CASE WHEN mc >= g.thr AND y = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS tp,
                   CAST(sum(CASE WHEN mc >= g.thr AND y = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS fp,
                   CAST(sum(CASE WHEN mc < g.thr AND y = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS fn,
                   CAST(sum(CASE WHEN mc < g.thr AND y = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS tn
            FROM scored, grid g GROUP BY 1
        )
        SELECT thr,
               round(tp * 1.0 / nullif(tp + fn, 0), 4) AS sensitivity,
               round(tn * 1.0 / nullif(tn + fp, 0), 4) AS specificity,
               round(tp * 1.0 / nullif(tp + fn, 0)
                     + tn * 1.0 / nullif(tn + fp, 0) - 1, 4) + 0.0 AS youden_j,
               round((tp * 1.0 / nullif(tp + fn, 0))
                     / nullif(1 - tn * 1.0 / nullif(tn + fp, 0), 0), 4)
                   AS lr_positive,
               round((1 - tp * 1.0 / nullif(tp + fn, 0))
                     / nullif(tn * 1.0 / nullif(tn + fp, 0), 0), 4)
                   + 0.0 AS lr_negative,
               round((tp * 1.0 / nullif(tp + fn, 0)
                      + tn * 1.0 / nullif(tn + fp, 0)) / 2, 4) AS balanced_acc
        FROM cells
        ORDER BY thr
    """,
    category="llm-pipeline",
)
def q_youden_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Youden's J and the diagnostic likelihood ratios (LR+, LR−) for
    the q_ece_calibration score across a fixed threshold grid —
    J = sens+spec−1 picks the cutpoint, LR+ = sens/(1−spec) and
    LR− = (1−sens)/spec say how much one gate decision should shift
    the odds (the numbers q_mcc_threshold's MCC sweep and q_auc_roc's
    ranking view don't expose).

    One fact pass against a 4-row broadcast threshold grid to exact
    integer confusion cells; every rate is one division of integers.
    Guards: label-pure corpora null the affected ratios (nullif /
    F.when on both engines); perfect specificity nulls LR+."""
    d = load_table(spark, sf_dir, "documents").select(
        ((F.col("n_chars") * 7 + F.col("doc_id")) % 997).alias("mc"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    grid = spark.createDataFrame([(t,) for t in (199, 399, 599, 799)], "thr int")
    cells = (
        d.crossJoin(F.broadcast(grid))
        .groupBy("thr")
        .agg(
            F.sum(F.when((F.col("mc") >= F.col("thr")) & (F.col("y") == 1), 1).otherwise(0))
            .cast("bigint")
            .alias("tp"),
            F.sum(F.when((F.col("mc") >= F.col("thr")) & (F.col("y") == 0), 1).otherwise(0))
            .cast("bigint")
            .alias("fp"),
            F.sum(F.when((F.col("mc") < F.col("thr")) & (F.col("y") == 1), 1).otherwise(0))
            .cast("bigint")
            .alias("fn"),
            F.sum(F.when((F.col("mc") < F.col("thr")) & (F.col("y") == 0), 1).otherwise(0))
            .cast("bigint")
            .alias("tn"),
        )
    )
    sens = F.col("tp") * 1.0 / F.when(F.col("tp") + F.col("fn") != 0, F.col("tp") + F.col("fn"))
    spec = F.col("tn") * 1.0 / F.when(F.col("tn") + F.col("fp") != 0, F.col("tn") + F.col("fp"))
    return cells.select(
        "thr",
        F.round(sens, 4).alias("sensitivity"),
        F.round(spec, 4).alias("specificity"),
        (F.round(sens + spec - 1, 4) + F.lit(0.0)).alias("youden_j"),
        F.round(sens / F.when(1 - spec != 0, 1 - spec), 4).alias("lr_positive"),
        (F.round((1 - sens) / F.when(spec != 0, spec), 4) + F.lit(0.0)).alias(
            "lr_negative"
        ),
        F.round((sens + spec) / 2, 4).alias("balanced_acc"),
    ).orderBy("thr")


# ---------------------------------------------------------------------------
# Adjusted Rand index + NMI between two document labelings


@register(
    "q_ari_nmi",
    oracle="""
        WITH d AS (
            SELECT lang, n_chars * 1.0 AS v FROM documents
        ),
        q AS (
            SELECT quantile_cont(v, 0.25) AS q1, quantile_cont(v, 0.5) AS q2,
                   quantile_cont(v, 0.75) AS q3
            FROM d
        ),
        cells AS (
            SELECT lang,
                   CASE WHEN d.v <= q.q1 THEN 0 WHEN d.v <= q.q2 THEN 1
                        WHEN d.v <= q.q3 THEN 2 ELSE 3 END AS yq,
                   CAST(count(*) AS BIGINT) AS o
            FROM d, q GROUP BY 1, 2
        ),
        am AS (SELECT lang, CAST(sum(o) AS BIGINT) AS a FROM cells GROUP BY 1),
        bm AS (SELECT yq, CAST(sum(o) AS BIGINT) AS b FROM cells GROUP BY 1),
        tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        pairsums AS (
            SELECT (SELECT sum(o * 1.0 * (o - 1) / 2) FROM cells) AS sij,
                   (SELECT sum(a * 1.0 * (a - 1) / 2) FROM am) AS sa,
                   (SELECT sum(b * 1.0 * (b - 1) / 2) FROM bm) AS sb,
                   (SELECT n * 1.0 * (n - 1) / 2 FROM tot) AS n0
        ),
        info AS (
            SELECT
                (SELECT sum((c.o * 1.0 / t.n)
                            * ln(t.n * 1.0 * c.o / (am.a * 1.0 * bm.b)))
                 FROM cells c, am, bm, tot t
                 WHERE c.lang = am.lang AND c.yq = bm.yq) AS mi,
                (SELECT -sum((a * 1.0 / t.n) * ln(a * 1.0 / t.n))
                 FROM am, tot t) AS hx,
                (SELECT -sum((b * 1.0 / t.n) * ln(b * 1.0 / t.n))
                 FROM bm, tot t) AS hy
        )
        SELECT t.n AS n_docs,
               round((p.sij - p.sa * p.sb / nullif(p.n0, 0))
                     / nullif((p.sa + p.sb) / 2
                              - p.sa * p.sb / nullif(p.n0, 0), 0), 4)
                   + 0.0 AS ari,
               round(i.mi / nullif(sqrt(CASE WHEN i.hx * i.hy > 0
                                             THEN i.hx * i.hy END), 0), 4)
                   + 0.0 AS nmi,
               round(2 * i.mi / nullif(i.hx + i.hy, 0), 4) + 0.0 AS v_measure
        FROM pairsums p, info i, tot t
    """,
    category="llm-similarity",
)
def q_ari_nmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-agreement suite between two document labelings — the
    language label vs the char-length QUARTILE: adjusted Rand index
    (pair-counting, chance-corrected), normalized mutual information
    (info-theoretic, √(H_x·H_y) normalization) and the V-measure
    (2I/(H_x+H_y)) from ONE contingency table. The evaluation layer
    q_kmeans_embed / q_grid_density_cluster / q_cell_purity report
    into: does an unsupervised partition recover a known labeling?

    Quartile boundaries from the stitched exact quantile; facts
    collapse to a ≤20-cell (lang × quartile) table; margins, pair
    counts and entropies are closed-form algebra on those cells with
    every product widened ``* 1.0 *`` (pair counts reach n²/2).
    Guards: a single-cluster labeling zeros H or the ARI denominator
    → NULL on both engines, never a raise."""
    from builder_spark.operators.quantiles import quantile_cont_stitched

    d = load_table(spark, sf_dir, "documents").select(
        "lang", (F.col("n_chars") * 1.0).alias("v")
    )
    q = quantile_cont_stitched(
        d, "v", {"q1": 0.25, "q2": 0.5, "q3": 0.75}
    ).select("q1", "q2", "q3")
    cells = materialize(
        d.crossJoin(F.broadcast(q))
        .select(
            "lang",
            F.when(F.col("v") <= F.col("q1"), 0)
            .when(F.col("v") <= F.col("q2"), 1)
            .when(F.col("v") <= F.col("q3"), 2)
            .otherwise(3)
            .alias("yq"),
        )
        .groupBy("lang", "yq")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    )
    am = cells.groupBy("lang").agg(F.sum("o").cast("bigint").alias("a"))
    bm = cells.groupBy("yq").agg(F.sum("o").cast("bigint").alias("b"))
    tot = cells.agg(F.sum("o").cast("bigint").alias("n"))
    sij = cells.agg(F.sum(F.col("o") * 1.0 * (F.col("o") - 1) / 2).alias("sij"))
    sa = am.agg(F.sum(F.col("a") * 1.0 * (F.col("a") - 1) / 2).alias("sa"))
    sb = bm.agg(F.sum(F.col("b") * 1.0 * (F.col("b") - 1) / 2).alias("sb"))
    withm = (
        cells.join(F.broadcast(am), "lang")
        .join(F.broadcast(bm), "yq")
        .crossJoin(F.broadcast(tot))
    )
    mi = withm.agg(
        F.sum(
            (F.col("o") * 1.0 / F.col("n"))
            * F.log(F.col("n") * 1.0 * F.col("o") / (F.col("a") * 1.0 * F.col("b")))
        ).alias("mi")
    )
    hx = am.crossJoin(F.broadcast(tot)).agg(
        (-F.sum((F.col("a") * 1.0 / F.col("n")) * F.log(F.col("a") * 1.0 / F.col("n"))))
        .alias("hx")
    )
    hy = bm.crossJoin(F.broadcast(tot)).agg(
        (-F.sum((F.col("b") * 1.0 / F.col("n")) * F.log(F.col("b") * 1.0 / F.col("n"))))
        .alias("hy")
    )
    n0 = F.col("n") * 1.0 * (F.col("n") - 1) / 2
    exp_ = F.col("sa") * F.col("sb") / F.when(n0 != 0, n0)
    ariden = (F.col("sa") + F.col("sb")) / 2 - exp_
    hh = F.col("hx") * F.col("hy")
    return (
        sij.crossJoin(F.broadcast(sa))
        .crossJoin(F.broadcast(sb))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select(
            F.col("n").alias("n_docs"),
            (
                F.round((F.col("sij") - exp_) / F.when(ariden != 0, ariden), 4)
                + F.lit(0.0)
            ).alias("ari"),
            (
                F.round(
                    F.col("mi")
                    / F.when(F.sqrt(F.when(hh > 0, hh)) != 0, F.sqrt(F.when(hh > 0, hh))),
                    4,
                )
                + F.lit(0.0)
            ).alias("nmi"),
            (
                F.round(
                    2 * F.col("mi")
                    / F.when(F.col("hx") + F.col("hy") != 0, F.col("hx") + F.col("hy")),
                    4,
                )
                + F.lit(0.0)
            ).alias("v_measure"),
        )
    )


# ---------------------------------------------------------------------------
# Hellinger / Bhattacharyya distance between weekday revenue mixes


@register(
    "q_hellinger_weekday",
    oracle="""
        WITH tagged AS (
            SELECT dayofweek(o_orderdate) AS dow, r.r_name AS region,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name IN ('AMERICA', 'ASIA')
        ),
        per_dow AS (
            SELECT dow,
                   CAST(sum(CASE WHEN region = 'AMERICA' THEN cents
                            ELSE 0 END) AS BIGINT) AS ra,
                   CAST(sum(CASE WHEN region = 'ASIA' THEN cents
                            ELSE 0 END) AS BIGINT) AS rb
            FROM tagged GROUP BY 1
        ),
        tot AS (
            SELECT CAST(sum(ra) AS BIGINT) AS ta, CAST(sum(rb) AS BIGINT) AS tb
            FROM per_dow
        ),
        dist AS (
            SELECT sum(sqrt((d.ra * 1.0 / nullif(t.ta, 0))
                            * (d.rb * 1.0 / nullif(t.tb, 0)))) AS bc,
                   sum(abs(d.ra * 1.0 / nullif(t.ta, 0)
                           - d.rb * 1.0 / nullif(t.tb, 0))) / 2 AS tv
            FROM per_dow d, tot t
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM per_dow) AS n_weekdays,
               round(bc, 4) + 0.0 AS bc_coefficient,
               round(CASE WHEN 1 - bc > 0 THEN sqrt(1 - bc)
                          WHEN bc IS NOT NULL THEN 0.0 END, 4)
                   + 0.0 AS hellinger,
               round(-ln(nullif(CASE WHEN bc > 0 THEN bc END, 0)), 4)
                   + 0.0 AS bhattacharyya_dist,
               round(tv, 4) + 0.0 AS tv_distance
        FROM dist
    """,
    category="analytics",
)
def q_hellinger_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hellinger and Bhattacharyya distances between the AMERICA and
    ASIA weekday revenue MIXES (share of regional revenue landing on
    each day of week): BC = Σ√(p_w·q_w), H = √(1−BC), D_B = −ln BC,
    plus total variation for calibration — the bounded-metric family
    next to q_js_divergence (documents) and q_psi_drift (distribution
    drift), measuring whether two markets share a weekly rhythm.

    One fact join (orders×customer shuffles once; nation/region
    broadcast) collapses to a 7-row weekday grain with EXACT integer
    cents for both regions; shares and distances are closed-form over
    those 7 rows — identical IEEE trees (√ and one ln), no trig, no
    accumulation hazard. Guards: an empty region nulls the shares
    (nullif); disjoint mixes (BC=0) null D_B; greatest(0, 1−BC) keeps
    the √ off fp dust below zero."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    tagged = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name").isin("AMERICA", "ASIA"))
        .select(
            F.dayofweek("o_orderdate").alias("dow"),
            F.col("r_name").alias("region"),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        )
    )
    per_dow = materialize(tagged.groupBy("dow").agg(
        F.sum(F.when(F.col("region") == "AMERICA", F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("ra"),
        F.sum(F.when(F.col("region") == "ASIA", F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("rb"),
    ))
    tot = per_dow.agg(
        F.sum("ra").cast("bigint").alias("ta"), F.sum("rb").cast("bigint").alias("tb")
    )
    joined = per_dow.crossJoin(F.broadcast(tot))
    p = F.col("ra") * 1.0 / F.when(F.col("ta") != 0, F.col("ta"))
    qq = F.col("rb") * 1.0 / F.when(F.col("tb") != 0, F.col("tb"))
    dist = joined.agg(
        F.sum(F.sqrt(p * qq)).alias("bc"),
        (F.sum(F.abs(p - qq)) / 2).alias("tv"),
    )
    n_dows = per_dow.agg(F.count(F.lit(1)).cast("bigint").alias("n_weekdays"))
    bc = F.col("bc")
    return dist.crossJoin(F.broadcast(n_dows)).select(
        "n_weekdays",
        (F.round(bc, 4) + F.lit(0.0)).alias("bc_coefficient"),
        (
            F.round(
                F.when(1 - bc > 0, F.sqrt(1 - bc)).when(bc.isNotNull(), 0.0), 4
            )
            + F.lit(0.0)
        ).alias("hellinger"),
        (F.round(-F.log(F.when(bc > 0, bc)), 4) + F.lit(0.0)).alias(
            "bhattacharyya_dist"
        ),
        (F.round(F.col("tv"), 4) + F.lit(0.0)).alias("tv_distance"),
    )


# ---------------------------------------------------------------------------
# Engle–Granger two-step cointegration test


@register(
    "q_cointegration_eg",
    oracle="""
        WITH tagged AS (
            SELECT CAST(o_orderdate AS DATE) AS d, r.r_name AS region,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name IN ('AMERICA', 'ASIA')
        ),
        day AS (
            SELECT d,
                   CAST(sum(CASE WHEN region = 'AMERICA' THEN cents
                            ELSE 0 END) AS BIGINT) AS ca,
                   CAST(sum(CASE WHEN region = 'ASIA' THEN cents
                            ELSE 0 END) AS BIGINT) AS cb
            FROM tagged GROUP BY 1
            HAVING sum(CASE WHEN region = 'AMERICA' THEN cents ELSE 0 END) > 0
               AND sum(CASE WHEN region = 'ASIA' THEN cents ELSE 0 END) > 0
        ),
        xy AS (
            SELECT d, ln(ca / 100.0) AS y, ln(cb / 100.0) AS x FROM day
        ),
        m AS (
            SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                   sum(x * x) AS sxx, sum(x * y) AS sxy
            FROM xy
        ),
        fit AS (
            SELECT n,
                   (sxy - sx * sy / nullif(n * 1.0, 0))
                       / nullif(sxx - sx * sx / nullif(n * 1.0, 0), 0) AS beta,
                   sy / nullif(n * 1.0, 0)
                       - (sxy - sx * sy / nullif(n * 1.0, 0))
                         / nullif(sxx - sx * sx / nullif(n * 1.0, 0), 0)
                         * sx / nullif(n * 1.0, 0) AS alpha
            FROM m
        ),
        resid AS (
            SELECT xy.d, xy.y - fit.alpha - fit.beta * xy.x AS e
            FROM xy, fit
        ),
        lagged AS (
            SELECT e - lag(e) OVER (ORDER BY d) AS de,
                   lag(e) OVER (ORDER BY d) AS el
            FROM resid
        ),
        reg AS (
            SELECT count(*) AS m, sum(el * el) AS see,
                   sum(el * de) AS sed, sum(de * de) AS sdd
            FROM lagged WHERE el IS NOT NULL
        )
        SELECT CAST(f.n AS BIGINT) AS n_days,
               round(f.beta, 4) AS hedge_beta,
               round(r.sed / nullif(r.see, 0), 4) + 0.0 AS gamma,
               round((r.sed / nullif(r.see, 0))
                     / nullif(sqrt(CASE WHEN (r.sdd - r.sed * r.sed
                                                  / nullif(r.see, 0))
                                            / nullif(r.m - 1.0, 0)
                                            / nullif(r.see, 0) > 0
                                        THEN (r.sdd - r.sed * r.sed
                                                  / nullif(r.see, 0))
                                             / nullif(r.m - 1.0, 0)
                                             / nullif(r.see, 0)
                                   END), 0), 4) + 0.0 AS eg_stat,
               CAST(CASE WHEN (r.sed / nullif(r.see, 0))
                              / nullif(sqrt(CASE WHEN (r.sdd - r.sed * r.sed
                                                           / nullif(r.see, 0))
                                                     / nullif(r.m - 1.0, 0)
                                                     / nullif(r.see, 0) > 0
                                                 THEN (r.sdd - r.sed * r.sed
                                                           / nullif(r.see, 0))
                                                      / nullif(r.m - 1.0, 0)
                                                      / nullif(r.see, 0)
                                            END), 0) < -3.34
                    THEN 1 ELSE 0 END AS INT) AS cointegrated
        FROM fit f, reg r
    """,
    category="analytics",
)
def q_cointegration_eg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle–Granger two-step cointegration test between the AMERICA
    and ASIA daily log-revenue series: step 1 fits the long-run hedge
    y = α + βx by OLS; step 2 runs a Dickey–Fuller regression (through
    the origin) on the residual spread — EG statistic γ̂/se(γ̂) against
    the −3.34 5% critical (two variables, constant in step 1). The
    pair-relationship member of the unit-root family: q_adf_test asks
    "is one series stationary", this asks "do two drifting series
    share a common trend".

    One fact join collapses to the calendar-bounded day grain (exact
    cents for both regions); the OLS is a 1-row moment aggregate
    broadcast back; the single ordered-window lag runs over the day
    table (whitelisted grain); step 2 is again closed-form moments.
    Guards: constant x (zero variance), n≤1 day, or zero residual
    variance null the statistic on both engines."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n_ = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r_ = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    from pyspark.sql import Window

    tagged = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n_), c.c_nationkey == n_.n_nationkey)
        .join(F.broadcast(r_), n_.n_regionkey == r_.r_regionkey)
        .filter(F.col("r_name").isin("AMERICA", "ASIA"))
        .select(
            F.col("o_orderdate").cast("date").alias("d"),
            F.col("r_name").alias("region"),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        )
    )
    day = (
        tagged.groupBy("d")
        .agg(
            F.sum(F.when(F.col("region") == "AMERICA", F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("ca"),
            F.sum(F.when(F.col("region") == "ASIA", F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("cb"),
        )
        .filter((F.col("ca") > 0) & (F.col("cb") > 0))
    )
    xy = materialize(day.select(
        "d",
        F.log(F.col("ca") / 100.0).alias("y"),
        F.log(F.col("cb") / 100.0).alias("x"),
    ))
    m = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nn = F.when(F.col("n") != 0, F.col("n") * 1.0)
    sxx_c = F.col("sxx") - F.col("sx") * F.col("sx") / nn
    sxy_c = F.col("sxy") - F.col("sx") * F.col("sy") / nn
    fit = m.select(
        F.col("n"),
        (sxy_c / F.when(sxx_c != 0, sxx_c)).alias("beta"),
        (
            F.col("sy") / nn
            - sxy_c / F.when(sxx_c != 0, sxx_c) * F.col("sx") / nn
        ).alias("alpha"),
    )
    resid = xy.crossJoin(F.broadcast(fit)).select(
        "d",
        (F.col("y") - F.col("alpha") - F.col("beta") * F.col("x")).alias("e"),
    )
    w = Window.orderBy("d")
    lagged = resid.select(
        (F.col("e") - F.lag("e").over(w)).alias("de"),
        F.lag("e").over(w).alias("el"),
    ).filter(F.col("el").isNotNull())
    reg = lagged.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("el") * F.col("el")).alias("see"),
        F.sum(F.col("el") * F.col("de")).alias("sed"),
        F.sum(F.col("de") * F.col("de")).alias("sdd"),
    ).crossJoin(F.broadcast(fit))
    see = F.when(F.col("see") != 0, F.col("see"))
    g = F.col("sed") / see
    s2 = (F.col("sdd") - F.col("sed") * F.col("sed") / see) / F.when(
        F.col("m") - 1.0 != 0, F.col("m") - 1.0
    ) / see
    se = F.sqrt(F.when(s2 > 0, s2))
    eg = g / F.when(se != 0, se)
    return reg.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round(F.col("beta"), 4).alias("hedge_beta"),
        (F.round(g, 4) + F.lit(0.0)).alias("gamma"),
        (F.round(eg, 4) + F.lit(0.0)).alias("eg_stat"),
        F.when(eg < -3.34, 1).otherwise(0).cast("int").alias("cointegrated"),
    )


# ---------------------------------------------------------------------------
# round-12b batch 8 shared helpers: daily exact-cents revenue + the
# deterministic polynomial trig (geo precedent, SCALE.md round-12 #2:
# libm is not portable — Taylor/Horner in pure +,* is bit-identical)

#: day-grain exact-cents revenue rollup (duplicated from round12 so
#: the lazy registry never imports that module for it)
_DAILY_SQL = """
        daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS rev
            FROM orders GROUP BY 1
        )"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("rev")
        )
    )


def _horner12b(x: str, c0: float, coeffs: list[float]) -> str:
    u = f"(({x}) * ({x}))"
    acc = repr(coeffs[-1])
    for c in reversed(coeffs[:-1]):
        acc = f"({c!r} + {u} * {acc})"
    return f"({c0!r} + {u} * {acc})"


def _psin17(x: str) -> str:
    """Deterministic sin, degree-17 Taylor (|x| ≤ π, abs err ≲ 7e-9):
    pure +,* — bit-identical on Spark and DuckDB, unlike libm sin."""
    body = _horner12b(
        x,
        1.0,
        [
            -0.16666666666666666,
            0.008333333333333333,
            -0.0001984126984126984,
            2.7557319223985893e-06,
            -2.505210838544172e-08,
            1.6059043836821613e-10,
            -7.647163731819816e-13,
            2.8114572543455206e-15,
        ],
    )
    return f"(({x}) * {body})"


def _pcos16(x: str) -> str:
    """Deterministic cos, degree-16 Taylor (|x| ≤ π, abs err ≲ 1.4e-8)."""
    return _horner12b(
        x,
        1.0,
        [
            -0.5,
            0.041666666666666664,
            -0.001388888888888889,
            2.48015873015873e-05,
            -2.755731922398589e-07,
            2.08767569878681e-09,
            -1.1470745597729725e-11,
            4.779477332387385e-14,
        ],
    )


#: hour-of-day phase, centered so |θ| ≤ π (e0 literal: a bare decimal
#: would parse as DECIMAL on Spark and truncate — geo precedent)
_THETA = "((hr - 12) * 0.2617993877991494e0)"


# ---------------------------------------------------------------------------
# Chow structural-break test


@register(
    "q_chow_test",
    oracle=f"""
        WITH {_DAILY_SQL},
        span AS (
            SELECT min(d) AS dmin, (max(d) - min(d)) // 2 AS off FROM daily
        ),
        pts AS (
            SELECT CASE WHEN daily.d < span.dmin + CAST(span.off AS INT)
                        THEN 0 ELSE 1 END AS seg,
                   (daily.d - DATE '1992-01-01') / 365.25e0 AS t,
                   ln(daily.rev / 100.0) AS y
            FROM daily, span
        ),
        m AS (
            SELECT count(*) AS n,
                   sum(CASE WHEN seg = 0 THEN 1 ELSE 0 END) AS n1,
                   sum(t) AS st, sum(y) AS sy, sum(t * t) AS stt,
                   sum(t * y) AS sty, sum(y * y) AS syy,
                   sum(CASE WHEN seg = 0 THEN t ELSE 0 END) AS st1,
                   sum(CASE WHEN seg = 0 THEN y ELSE 0 END) AS sy1,
                   sum(CASE WHEN seg = 0 THEN t * t ELSE 0 END) AS stt1,
                   sum(CASE WHEN seg = 0 THEN t * y ELSE 0 END) AS sty1,
                   sum(CASE WHEN seg = 0 THEN y * y ELSE 0 END) AS syy1,
                   sum(CASE WHEN seg = 1 THEN t ELSE 0 END) AS st2,
                   sum(CASE WHEN seg = 1 THEN y ELSE 0 END) AS sy2,
                   sum(CASE WHEN seg = 1 THEN t * t ELSE 0 END) AS stt2,
                   sum(CASE WHEN seg = 1 THEN t * y ELSE 0 END) AS sty2,
                   sum(CASE WHEN seg = 1 THEN y * y ELSE 0 END) AS syy2
            FROM pts
        ),
        ssr AS (
            SELECT n, n1, n - n1 AS n2,
                   (syy - sy * sy / nullif(n * 1.0, 0))
                   - (sty - st * sy / nullif(n * 1.0, 0))
                     * (sty - st * sy / nullif(n * 1.0, 0))
                     / nullif(stt - st * st / nullif(n * 1.0, 0), 0) AS sp,
                   (syy1 - sy1 * sy1 / nullif(n1 * 1.0, 0))
                   - (sty1 - st1 * sy1 / nullif(n1 * 1.0, 0))
                     * (sty1 - st1 * sy1 / nullif(n1 * 1.0, 0))
                     / nullif(stt1 - st1 * st1 / nullif(n1 * 1.0, 0), 0) AS s1,
                   (syy2 - sy2 * sy2 / nullif((n - n1) * 1.0, 0))
                   - (sty2 - st2 * sy2 / nullif((n - n1) * 1.0, 0))
                     * (sty2 - st2 * sy2 / nullif((n - n1) * 1.0, 0))
                     / nullif(stt2 - st2 * st2
                              / nullif((n - n1) * 1.0, 0), 0) AS s2
            FROM m
        )
        SELECT CAST(n AS BIGINT) AS n_days,
               CAST(n1 AS BIGINT) AS n_pre, CAST(n2 AS BIGINT) AS n_post,
               round(sp, 4) AS ssr_pooled,
               round(s1 + s2, 4) AS ssr_segmented,
               round(((sp - s1 - s2) / 2)
                     / nullif((s1 + s2) / nullif(n - 4.0, 0), 0), 4)
                   + 0.0 AS chow_f,
               CAST(CASE WHEN ((sp - s1 - s2) / 2)
                              / nullif((s1 + s2) / nullif(n - 4.0, 0), 0)
                              > 2.9957
                    THEN 1 ELSE 0 END AS INT) AS break_detected
        FROM ssr
    """,
    category="analytics",
)
def q_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow structural-break test on the daily log-revenue trend at a
    KNOWN break (the span midpoint — hypothesized a priori, not
    searched for, which is what distinguishes Chow from
    q_binary_segmentation): fit y = α + βt pooled and per segment,
    F = [(SSR_p − SSR₁ − SSR₂)/k] / [(SSR₁+SSR₂)/(n−2k)] with k = 2
    against F(2, ∞) = χ²₂/2 = 2.9957 — the parametric, known-date
    member of the changepoint family (q_cusum_changepoint /
    q_page_hinkley detect, q_binary_segmentation locates; Chow TESTS a
    hypothesized date). q_diff_in_diff is its two-group cousin.

    ONE combinable pass over the calendar-bounded day table collects
    pooled + per-segment moments (18 sufficient statistics); all three
    SSRs are closed-form algebra on the single row — identical guarded
    trees both engines (a segment with ≤2 days or constant t nulls the
    statistic rather than raising)."""
    daily = _daily(spark, sf_dir)
    span = daily.agg(
        F.min("d").alias("dmin"),
        F.expr("datediff(max(d), min(d)) div 2").alias("off"),
    )
    pts = daily.crossJoin(F.broadcast(span)).select(
        F.when(
            F.col("d") < F.expr("date_add(dmin, CAST(off AS INT))"), 0
        )
        .otherwise(1)
        .alias("seg"),
        (F.datediff(F.col("d"), F.lit("1992-01-01").cast("date")) / F.lit(365.25))
        .alias("t"),
        F.log(F.col("rev") / 100.0).alias("y"),
    )
    t, y = F.col("t"), F.col("y")
    s0 = F.when(F.col("seg") == 0, 1).otherwise(0)
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(s0).alias("n1"),
        F.sum(t).alias("st"),
        F.sum(y).alias("sy"),
        F.sum(t * t).alias("stt"),
        F.sum(t * y).alias("sty"),
        F.sum(y * y).alias("syy"),
    ]
    for s, tag in ((0, "1"), (1, "2")):
        c = F.when(F.col("seg") == s, 1.0).otherwise(0.0)
        aggs += [
            F.sum(c * t).alias(f"st{tag}"),
            F.sum(c * y).alias(f"sy{tag}"),
            F.sum(c * t * t).alias(f"stt{tag}"),
            F.sum(c * t * y).alias(f"sty{tag}"),
            F.sum(c * y * y).alias(f"syy{tag}"),
        ]
    m = pts.agg(*aggs)

    def ssr(nc, st, sy, stt, sty, syy):
        nn = F.when(nc * 1.0 != 0, nc * 1.0)
        sxx = stt - st * st / nn
        sxy = sty - st * sy / nn
        return (syy - sy * sy / nn) - sxy * sxy / F.when(sxx != 0, sxx)

    n, n1 = F.col("n"), F.col("n1")
    n2 = n - n1
    sp = ssr(n, F.col("st"), F.col("sy"), F.col("stt"), F.col("sty"), F.col("syy"))
    s1 = ssr(n1, F.col("st1"), F.col("sy1"), F.col("stt1"), F.col("sty1"), F.col("syy1"))
    s2 = ssr(n2, F.col("st2"), F.col("sy2"), F.col("stt2"), F.col("sty2"), F.col("syy2"))
    den = (s1 + s2) / F.when(n - 4.0 != 0, n - 4.0)
    f_stat = ((sp - s1 - s2) / 2) / F.when(den != 0, den)
    return m.select(
        n.cast("bigint").alias("n_days"),
        n1.cast("bigint").alias("n_pre"),
        n2.cast("bigint").alias("n_post"),
        F.round(sp, 4).alias("ssr_pooled"),
        F.round(s1 + s2, 4).alias("ssr_segmented"),
        (F.round(f_stat, 4) + F.lit(0.0)).alias("chow_f"),
        F.when(f_stat > 2.9957, 1).otherwise(0).cast("int").alias("break_detected"),
    )


# ---------------------------------------------------------------------------
# Goldfeld–Quandt heteroscedasticity test


@register(
    "q_goldfeld_quandt",
    oracle=f"""
        WITH {_DAILY_SQL},
        span AS (
            SELECT min(d) AS dmin, max(d) AS dmax,
                   (max(d) - min(d)) * 3 // 8 AS off
            FROM daily
        ),
        pts AS (
            SELECT CASE WHEN daily.d <= span.dmin + CAST(span.off AS INT)
                        THEN 0
                        WHEN daily.d >= span.dmax - CAST(span.off AS INT)
                        THEN 1 END AS seg,
                   (daily.d - DATE '1992-01-01') / 365.25e0 AS t,
                   ln(daily.rev / 100.0) AS y
            FROM daily, span
        ),
        g AS (
            SELECT seg, count(*) AS n, sum(t) AS st, sum(y) AS sy,
                   sum(t * t) AS stt, sum(t * y) AS sty, sum(y * y) AS syy
            FROM pts WHERE seg IS NOT NULL GROUP BY seg
        ),
        s AS (
            SELECT seg, n,
                   ((syy - sy * sy / nullif(n * 1.0, 0))
                    - (sty - st * sy / nullif(n * 1.0, 0))
                      * (sty - st * sy / nullif(n * 1.0, 0))
                      / nullif(stt - st * st / nullif(n * 1.0, 0), 0))
                   / nullif(n - 2.0, 0) AS msr
            FROM g
        )
        SELECT CAST((SELECT n FROM s WHERE seg = 0) AS BIGINT) AS n_early,
               CAST((SELECT n FROM s WHERE seg = 1) AS BIGINT) AS n_late,
               round((SELECT msr FROM s WHERE seg = 1)
                     / nullif((SELECT msr FROM s WHERE seg = 0), 0), 4)
                   AS gq_f,
               CAST(CASE WHEN (SELECT msr FROM s WHERE seg = 1)
                              / nullif((SELECT msr FROM s WHERE seg = 0), 0)
                              > 1.2
                         OR (SELECT msr FROM s WHERE seg = 0)
                            / nullif((SELECT msr FROM s WHERE seg = 1), 0)
                            > 1.2
                    THEN 1 ELSE 0 END AS INT) AS heteroscedastic
        FROM span
    """,
    category="analytics",
)
def q_goldfeld_quandt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goldfeld–Quandt heteroscedasticity test on the daily
    log-revenue trend: fit y = α + βt separately on the FIRST and LAST
    3/8 of the date span (the classic middle-fourth omission), compare
    the residual mean squares GQ = MSR_late/MSR_early against a
    conservative 1.2 two-sided bar (F(≈n,≈n) 5% ≈ 1.11 at the bench
    day count; 1.2 stays conservative across scales). The
    variance-versus-TIME member next to q_breusch_pagan (variance vs
    fitted level) and q_white_test (vs level and curvature).

    Segment cutoffs are pure DATE arithmetic from the 1-row (min, max)
    broadcast — integer day offsets, deterministic on both engines; a
    2-group combinable moment pass and per-segment closed-form MSR
    follow. Guards: a segment with ≤ 2 days nulls its MSR → NULL GQ."""
    daily = _daily(spark, sf_dir)
    span = daily.agg(
        F.min("d").alias("dmin"),
        F.max("d").alias("dmax"),
        F.expr("(datediff(max(d), min(d)) * 3) div 8").alias("off"),
    )
    pts = daily.crossJoin(F.broadcast(span)).select(
        F.when(
            F.col("d") <= F.expr("date_add(dmin, CAST(off AS INT))"), 0
        )
        .when(F.col("d") >= F.expr("date_sub(dmax, CAST(off AS INT))"), 1)
        .alias("seg"),
        (F.datediff(F.col("d"), F.lit("1992-01-01").cast("date")) / F.lit(365.25))
        .alias("t"),
        F.log(F.col("rev") / 100.0).alias("y"),
    )
    t, y = F.col("t"), F.col("y")
    g = (
        pts.filter(F.col("seg").isNotNull())
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(t).alias("st"),
            F.sum(y).alias("sy"),
            F.sum(t * t).alias("stt"),
            F.sum(t * y).alias("sty"),
            F.sum(y * y).alias("syy"),
        )
    )
    nn = F.when(F.col("n") * 1.0 != 0, F.col("n") * 1.0)
    sxx = F.col("stt") - F.col("st") * F.col("st") / nn
    sxy = F.col("sty") - F.col("st") * F.col("sy") / nn
    msr = (
        (F.col("syy") - F.col("sy") * F.col("sy") / nn)
        - sxy * sxy / F.when(sxx != 0, sxx)
    ) / F.when(F.col("n") - 2.0 != 0, F.col("n") - 2.0)
    s = g.select("seg", "n", msr.alias("msr"))
    e = s.filter(F.col("seg") == 0).select(
        F.col("n").alias("n_early_i"), F.col("msr").alias("msr0")
    )
    l_ = s.filter(F.col("seg") == 1).select(
        F.col("n").alias("n_late_i"), F.col("msr").alias("msr1")
    )
    one = span.select(F.lit(1).alias("_k"))
    out = (
        one.join(F.broadcast(e.withColumn("_k", F.lit(1))), "_k", "left")
        .join(F.broadcast(l_.withColumn("_k", F.lit(1))), "_k", "left")
    )
    gq = F.col("msr1") / F.when(F.col("msr0") != 0, F.col("msr0"))
    gq_inv = F.col("msr0") / F.when(F.col("msr1") != 0, F.col("msr1"))
    return out.select(
        F.col("n_early_i").cast("bigint").alias("n_early"),
        F.col("n_late_i").cast("bigint").alias("n_late"),
        F.round(gq, 4).alias("gq_f"),
        F.when((gq > 1.2) | (gq_inv > 1.2), 1)
        .otherwise(0)
        .cast("int")
        .alias("heteroscedastic"),
    )


# ---------------------------------------------------------------------------
# White heteroscedasticity test


@register(
    "q_white_test",
    oracle=f"""
        WITH {_DAILY_SQL},
        pts AS (
            SELECT (d - DATE '1992-01-01') / 365.25e0 AS t,
                   ln(rev / 100.0) AS y
            FROM daily
        ),
        m AS (
            SELECT count(*) AS n, sum(t) AS st, sum(y) AS sy,
                   sum(t * t) AS stt, sum(t * y) AS sty
            FROM pts
        ),
        fit AS (
            SELECT n,
                   (sty - st * sy / nullif(n * 1.0, 0))
                       / nullif(stt - st * st / nullif(n * 1.0, 0), 0) AS b,
                   sy / nullif(n * 1.0, 0)
                       - (sty - st * sy / nullif(n * 1.0, 0))
                         / nullif(stt - st * st / nullif(n * 1.0, 0), 0)
                         * st / nullif(n * 1.0, 0) AS a
            FROM m
        ),
        aux AS (
            SELECT p.t AS u, p.t * p.t AS v,
                   (p.y - f.a - f.b * p.t) * (p.y - f.a - f.b * p.t) AS w
            FROM pts p, fit f
        ),
        am AS (
            SELECT count(*) AS n,
                   sum(u * u) - count(*) * avg(u) * avg(u) AS suu,
                   sum(u * v) - count(*) * avg(u) * avg(v) AS suv,
                   sum(v * v) - count(*) * avg(v) * avg(v) AS svv,
                   sum(u * w) - count(*) * avg(u) * avg(w) AS suw,
                   sum(v * w) - count(*) * avg(v) * avg(w) AS svw,
                   sum(w * w) - count(*) * avg(w) * avg(w) AS sww
            FROM aux
        ),
        r2 AS (
            SELECT n,
                   ((suw * svv - svw * suv) * suw + (svw * suu - suw * suv) * svw)
                   / nullif((suu * svv - suv * suv) * sww, 0) AS r2
            FROM am
        )
        SELECT CAST(n AS BIGINT) AS n_days,
               round(r2, 4) + 0.0 AS aux_r2,
               round(n * r2, 4) + 0.0 AS white_lm,
               CAST(CASE WHEN n * r2 > 5.9915 THEN 1 ELSE 0 END AS INT)
                   AS heteroscedastic
        FROM r2
    """,
    category="analytics",
)
def q_white_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """White's heteroscedasticity test on the daily log-revenue trend:
    regress squared residuals on (t, t²), LM = n·R² against χ²₂
    (5.9915) — the functional-form-free check next to q_breusch_pagan
    (linear-in-fitted variance) and q_goldfeld_quandt (ordered-split).
    A significant LM says the trend's error variance moves with time
    or its curvature, so OLS standard errors on this series lie.

    Pass 1: one combinable moment pass fits the 1-row OLS (broadcast
    back); pass 2: centered moments of (u, v, w) = (t, t², e²) on the
    same calendar-bounded day table; R² is the 2-predictor Cramer
    closed form from q_multi_regression's algebra — identical trees,
    det/variance denominators guarded on both engines."""
    pts = materialize(_daily(spark, sf_dir).select(
        (F.datediff(F.col("d"), F.lit("1992-01-01").cast("date")) / F.lit(365.25))
        .alias("t"),
        F.log(F.col("rev") / 100.0).alias("y"),
    ))
    t, y = F.col("t"), F.col("y")
    m = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(t).alias("st"),
        F.sum(y).alias("sy"),
        F.sum(t * t).alias("stt"),
        F.sum(t * y).alias("sty"),
    )
    nn = F.when(F.col("n") * 1.0 != 0, F.col("n") * 1.0)
    sxx = F.col("stt") - F.col("st") * F.col("st") / nn
    sxy = F.col("sty") - F.col("st") * F.col("sy") / nn
    b = sxy / F.when(sxx != 0, sxx)
    fit = m.select(
        F.col("n"),
        b.alias("b"),
        (F.col("sy") / nn - b * F.col("st") / nn).alias("a"),
    )
    aux = pts.crossJoin(F.broadcast(fit)).select(
        t.alias("u"),
        (t * t).alias("v"),
        (
            (y - F.col("a") - F.col("b") * t) * (y - F.col("a") - F.col("b") * t)
        ).alias("w"),
    )
    cnt = F.count(F.lit(1))
    am = aux.agg(
        cnt.alias("n"),
        (F.sum(F.col("u") * F.col("u")) - cnt * F.avg("u") * F.avg("u")).alias("suu"),
        (F.sum(F.col("u") * F.col("v")) - cnt * F.avg("u") * F.avg("v")).alias("suv"),
        (F.sum(F.col("v") * F.col("v")) - cnt * F.avg("v") * F.avg("v")).alias("svv"),
        (F.sum(F.col("u") * F.col("w")) - cnt * F.avg("u") * F.avg("w")).alias("suw"),
        (F.sum(F.col("v") * F.col("w")) - cnt * F.avg("v") * F.avg("w")).alias("svw"),
        (F.sum(F.col("w") * F.col("w")) - cnt * F.avg("w") * F.avg("w")).alias("sww"),
    )
    det_sww = (
        F.col("suu") * F.col("svv") - F.col("suv") * F.col("suv")
    ) * F.col("sww")
    r2 = (
        (F.col("suw") * F.col("svv") - F.col("svw") * F.col("suv")) * F.col("suw")
        + (F.col("svw") * F.col("suu") - F.col("suw") * F.col("suv")) * F.col("svw")
    ) / F.when(det_sww != 0, det_sww)
    lm = F.col("n") * r2
    return am.select(
        F.col("n").cast("bigint").alias("n_days"),
        (F.round(r2, 4) + F.lit(0.0)).alias("aux_r2"),
        (F.round(lm, 4) + F.lit(0.0)).alias("white_lm"),
        F.when(lm > 5.9915, 1).otherwise(0).cast("int").alias("heteroscedastic"),
    )


# ---------------------------------------------------------------------------
# Circular statistics + Rayleigh uniformity test on event hour-of-day


@register(
    "q_circular_rayleigh",
    oracle=f"""
        WITH hrs AS (
            SELECT event_type, hour(ts) AS hr,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1, 2
        ),
        vec AS (
            SELECT event_type,
                   CAST(sum(cnt) AS BIGINT) AS n,
                   sum(cnt * {_pcos16(_THETA)}) AS sc,
                   sum(cnt * {_psin17(_THETA)}) AS ss
            FROM hrs GROUP BY 1
        )
        SELECT event_type, n AS n_events,
               round(sqrt((sc / nullif(n * 1.0, 0)) * (sc / nullif(n * 1.0, 0))
                          + (ss / nullif(n * 1.0, 0))
                            * (ss / nullif(n * 1.0, 0))), 4) AS resultant_r,
               round(n * ((sc / nullif(n * 1.0, 0)) * (sc / nullif(n * 1.0, 0))
                          + (ss / nullif(n * 1.0, 0))
                            * (ss / nullif(n * 1.0, 0))), 4) AS rayleigh_z,
               CAST(CASE WHEN n * ((sc / nullif(n * 1.0, 0))
                                       * (sc / nullif(n * 1.0, 0))
                                   + (ss / nullif(n * 1.0, 0))
                                       * (ss / nullif(n * 1.0, 0))) > 2.9957
                    THEN 1 ELSE 0 END AS INT) AS nonuniform
        FROM vec
        ORDER BY event_type
    """,
    category="analytics",
)
def q_circular_rayleigh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular statistics on event hour-of-day per event type: the
    mean resultant length R of the unit phase vectors θ = (h−12)·π/12
    and the Rayleigh uniformity test z = nR² (reject uniform at
    z > 2.9957 = −ln .05) — hour-of-day is a CIRCLE (23:00 and 00:00
    are neighbors), so q_activity_heatmap's linear histogram cannot
    say "how concentrated"; R does, in one number per event type.

    Facts collapse to the ≤24-row (type, hour) grain first, so each
    cos/sin is evaluated once per cell and multiplied by an exact
    integer count. The trig is the shared degree-16/17 Taylor–Horner
    polynomial (geo precedent, SCALE.md round-12 #2: libm sin/cos
    differ between the JVM and DuckDB's C library at the ulp — pure
    +,* is bit-identical; the e0 phase literal keeps Spark off DECIMAL
    parsing). Guards: empty type impossible (grain from facts); n=0
    global degenerate yields 0 rows on both engines."""
    hrs = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.hour("ts").alias("hr"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    vec = hrs.groupBy("event_type").agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.col("cnt") * F.expr(_pcos16(_THETA))).alias("sc"),
        F.sum(F.col("cnt") * F.expr(_psin17(_THETA))).alias("ss"),
    )
    n = F.col("n")
    nn = F.when(n * 1.0 != 0, n * 1.0)
    r2 = (F.col("sc") / nn) * (F.col("sc") / nn) + (F.col("ss") / nn) * (
        F.col("ss") / nn
    )
    z = n * r2
    return vec.select(
        "event_type",
        n.alias("n_events"),
        F.round(F.sqrt(r2), 4).alias("resultant_r"),
        F.round(z, 4).alias("rayleigh_z"),
        F.when(z > 2.9957, 1).otherwise(0).cast("int").alias("nonuniform"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Matryoshka (MRL) truncation recall


_DOT12B = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)
_NORM12B = "sqrt(list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * x)))"


def _mrl_top5_sql(k: int | None, tag: str) -> str:
    sl = f"[1:{k}]" if k is not None else ""
    dot = _DOT12B.format(a=f"q.embedding{sl}", b=f"e.embedding{sl}")
    nq = _NORM12B.format(v=f"q.embedding{sl}")
    nc = _NORM12B.format(v=f"e.embedding{sl}")
    return f"""
        {tag} AS (
            SELECT q_id, vec_id FROM (
                SELECT q.vec_id AS q_id, e.vec_id,
                       round({dot} / nullif({nq} * {nc}, 0), 4) AS sim,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY round({dot} / nullif({nq} * {nc}, 0), 4)
                               DESC NULLS LAST, e.vec_id ASC) AS rnk
                FROM embeddings q CROSS JOIN embeddings e
                WHERE q.vec_id < 20 AND e.vec_id != q.vec_id
            ) WHERE rnk <= 5
        )"""


@register(
    "q_mrl_truncation_recall",
    oracle=f"""
        WITH {_mrl_top5_sql(None, "full_top")},
        {_mrl_top5_sql(8, "top8")},
        {_mrl_top5_sql(16, "top16")},
        grid AS (
            SELECT 8 AS k UNION ALL SELECT 16
        ),
        hits AS (
            -- LEFT JOIN from the grid so an empty corpus still yields
            -- one row per k (matching the Spark per-k aggregates)
            SELECT g.k, f.q_id, f.vec_id,
                   CASE WHEN g.k = 8 THEN t8.vec_id ELSE t16.vec_id END AS hit
            FROM grid g
            LEFT JOIN full_top f ON TRUE
            LEFT JOIN top8 t8 ON g.k = 8 AND t8.q_id = f.q_id
                             AND t8.vec_id = f.vec_id
            LEFT JOIN top16 t16 ON g.k = 16 AND t16.q_id = f.q_id
                               AND t16.vec_id = f.vec_id
        )
        SELECT k AS prefix_dims,
               CAST(count(q_id) AS BIGINT) AS n_exact_pairs,
               CAST(count(hit) AS BIGINT) AS n_hits,
               round(count(hit) * 1.0 / nullif(count(q_id), 0), 4)
                   AS recall_at_5
        FROM hits GROUP BY k
        ORDER BY k
    """,
    category="llm-similarity",
)
def q_mrl_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) truncation recall: rank candidates by cosine
    over only the FIRST 8 / 16 embedding dimensions and measure top-5
    overlap with full-dimension cosine — the prefix-truncation point
    on the memory/recall curve next to q_binary_quant_recall (1-bit),
    q_vec_quantize (int8) and q_ann_pq (product codes). MRL-trained
    embeddings front-load information, so prefix recall is the number
    that says how short a vector the serving tier can afford.

    20-query audit sample, round-then-rank (4dp) so the truncated
    ranking is identical on both engines (the q_cosine_topk
    discipline); dot products are the sequential zip-fold on BOTH
    sides (F.aggregate ↔ list_sum — same left-to-right order). A
    zero-norm prefix nulls its sim (NULLS LAST explicit both
    engines)."""
    from builder_spark.functions.vectors import dot_f64, l2_norm
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")

    def top5(k: int | None) -> DataFrame:
        if k is None:
            qe, ce = F.col("embedding"), F.col("embedding")
        else:
            qe, ce = F.slice("embedding", 1, k), F.slice("embedding", 1, k)
        # norms are per-VECTOR: compute once per side (20 + N rows),
        # not once per pair — at 10x this was 2/3 of the HOF work
        q = e.filter(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("q_id"), qe.alias("qe")
        ).withColumn("qn", l2_norm("qe"))
        c = e.select("vec_id", ce.alias("ce")).withColumn("cn", l2_norm("ce"))
        norms = F.col("qn") * F.col("cn")
        sim = F.round(dot_f64("qe", "ce") / F.when(norms != 0, norms), 4)
        w = Window.partitionBy("q_id").orderBy(
            F.col("sim").desc_nulls_last(), F.col("vec_id").asc()
        )
        return (
            c.join(F.broadcast(q), F.col("q_id") != F.col("vec_id"))
            .withColumn("sim", sim)
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 5)
            .select("q_id", "vec_id")
        )

    full = materialize(top5(None))
    parts = []
    for k in (8, 16):
        tk = top5(k).select(
            F.col("q_id").alias("t_qid"), F.col("vec_id").alias("t_vid")
        )
        joined = full.join(
            F.broadcast(tk),
            (F.col("q_id") == F.col("t_qid")) & (F.col("vec_id") == F.col("t_vid")),
            "left",
        )
        parts.append(
            joined.agg(
                F.lit(k).alias("prefix_dims"),
                F.count("q_id").cast("bigint").alias("n_exact_pairs"),
                F.count("t_vid").cast("bigint").alias("n_hits"),
                F.round(
                    F.count("t_vid") * 1.0
                    / F.when(F.count("q_id") != 0, F.count("q_id")),
                    4,
                ).alias("recall_at_5"),
            )
        )
    return parts[0].unionAll(parts[1]).orderBy("prefix_dims")


# ---------------------------------------------------------------------------
# XML source/sink roundtrip (Spark 4 native XML)


@register(
    "q_xml_roundtrip",
    oracle="""
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(doc_id) AS BIGINT) AS id_sum,
               CAST(sum(length(text)) AS BIGINT) AS total_cp,
               CAST(count(DISTINCT md5(text)) AS BIGINT) AS distinct_docs
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
    category="source-sink",
)
def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink+source roundtrip on documents via Spark 4's NATIVE xml
    format (rowTag framing): ids, language tags and full text cross
    the XML boundary (entity-escaping &/<  > on write, unescaping on
    read), then per-language stats hash-match against the ORIGINAL
    table — proving the write→escape→parse chain is lossless. The
    markup member of the interchange family (q_csv_roundtrip,
    q_json_roundtrip, q_orc_roundtrip, q_text_roundtrip): XML is still
    the wire format of legacy feeds a 100 TB ingest has to eat.

    Explicit read schema (no inference pass — at scale inference means
    a second full scan); files split per partition on write, each file
    one task on read. ignoreSurroundingSpaces is forced OFF on the read
    (the Spark default trims leading/trailing whitespace in values,
    which would silently break the hash-match for documents whose text
    begins or ends with whitespace — losslessness must not depend on
    fixture text shape; r12 ADVICE). Known limit: XML cannot carry
    control characters outside \\t\\n\\r, so such text is out of scope
    for this interchange path. Degenerate guard: 0-row write + explicit
    schema reads back 0 rows without an inference crash on both
    engines."""
    from builder_spark.queries.sourcesink import scratch_dir

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    out = scratch_dir("xml_roundtrip")
    d.write.format("xml").option("rowTag", "doc").mode("overwrite").save(out)
    back = spark.read.format("xml").option("rowTag", "doc").option(
        "ignoreSurroundingSpaces", "false"
    ).schema(
        "doc_id bigint, lang string, text string"
    ).load(out)
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("id_sum"),
            F.sum(F.length("text")).cast("bigint").alias("total_cp"),
            F.countDistinct(F.md5("text")).cast("bigint").alias("distinct_docs"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Brunner–Munzel generalized Wilcoxon test


@register(
    "q_brunner_munzel",
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
            SELECT CAST(sum(CASE WHEN samp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS m,
                   CAST(sum(CASE WHEN samp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n,
                   sum(CASE WHEN samp = 0 THEN r * 1.0 ELSE 0 END) AS sr0,
                   sum(CASE WHEN samp = 1 THEN r * 1.0 ELSE 0 END) AS sr1,
                   sum(CASE WHEN samp = 0
                            THEN (r - i) * 1.0 * (r - i) ELSE 0 END) AS sd0,
                   sum(CASE WHEN samp = 1
                            THEN (r - i) * 1.0 * (r - i) ELSE 0 END) AS sd1,
                   sum(CASE WHEN samp = 0 THEN (r - i) * 1.0 ELSE 0 END) AS sl0,
                   sum(CASE WHEN samp = 1 THEN (r - i) * 1.0 ELSE 0 END) AS sl1
            FROM rk
        ),
        s AS (
            SELECT m, n, sr0 / nullif(m * 1.0, 0) AS rb0,
                   sr1 / nullif(n * 1.0, 0) AS rb1,
                   (sd0 - sl0 * sl0 / nullif(m * 1.0, 0))
                       / nullif(m - 1.0, 0) AS s0,
                   (sd1 - sl1 * sl1 / nullif(n * 1.0, 0))
                       / nullif(n - 1.0, 0) AS s1
            FROM agg
        )
        SELECT m AS n_other, n AS n_urgent,
               round((rb1 - rb0) / nullif(m + n * 1.0, 0) + 0.5, 4)
                   AS p_hat,
               round(m * n * (rb1 - rb0)
                     / nullif((m + n)
                              * sqrt(CASE WHEN m * s0 + n * s1 > 0
                                          THEN m * s0 + n * s1 END), 0), 4)
                   + 0.0 AS bm_stat,
               CAST(CASE WHEN abs(m * n * (rb1 - rb0)
                              / nullif((m + n)
                                       * sqrt(CASE WHEN m * s0 + n * s1 > 0
                                              THEN m * s0 + n * s1 END), 0))
                              > 1.96
                    THEN 1 ELSE 0 END AS INT) AS reject_equal
        FROM s
    """,
    category="analytics",
)
def q_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brunner–Munzel generalized Wilcoxon test (urgent/high order
    values vs the rest): the nonparametric Behrens–Fisher answer —
    unlike q_mann_whitney_u it does NOT assume equal variances; the
    statistic standardizes the pooled-rank-mean gap by PER-SAMPLE
    rank variances (S_g² of pooled−within rank differences), with
    p̂ = P(X<Y)+½P(X=Y) as the effect size. Completes the two-sample
    rank triptych with q_cvm_test (whole CDF) and q_ansari_bradley
    (dispersion).

    Both rank columns come from the STITCHED machinery at fact grain
    (same two passes as q_cvm_test — one global total order, one
    per-sample restart); all moments are widened-double sums of exact
    integers ((r−i)² would pass 2^53 as int64 at 1000×, the r11 ADVICE
    class; noise ~1e-9 on an O(1) statistic). Ties broken by the
    (price, orderkey) total order on both engines. Guards: one-sample-
    empty or single-row samples null the variance → NULL statistic."""
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
    diff = (F.col("r") - F.col("i")) * 1.0
    agg = d2.agg(
        F.sum(F.when(F.col("samp") == 0, 1).otherwise(0)).cast("bigint").alias("m"),
        F.sum(F.when(F.col("samp") == 1, 1).otherwise(0)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("samp") == 0, F.col("r") * 1.0).otherwise(0.0)).alias("sr0"),
        F.sum(F.when(F.col("samp") == 1, F.col("r") * 1.0).otherwise(0.0)).alias("sr1"),
        F.sum(F.when(F.col("samp") == 0, diff * diff).otherwise(0.0)).alias("sd0"),
        F.sum(F.when(F.col("samp") == 1, diff * diff).otherwise(0.0)).alias("sd1"),
        F.sum(F.when(F.col("samp") == 0, diff).otherwise(0.0)).alias("sl0"),
        F.sum(F.when(F.col("samp") == 1, diff).otherwise(0.0)).alias("sl1"),
    )
    m, n = F.col("m"), F.col("n")
    mm = F.when(m * 1.0 != 0, m * 1.0)
    nn = F.when(n * 1.0 != 0, n * 1.0)
    rb0 = F.col("sr0") / mm
    rb1 = F.col("sr1") / nn
    s0 = (F.col("sd0") - F.col("sl0") * F.col("sl0") / mm) / F.when(
        m - 1.0 != 0, m - 1.0
    )
    s1 = (F.col("sd1") - F.col("sl1") * F.col("sl1") / nn) / F.when(
        n - 1.0 != 0, n - 1.0
    )
    var = m * s0 + n * s1
    den = (m + n) * F.sqrt(F.when(var > 0, var))
    bm = m * n * (rb1 - rb0) / F.when(den != 0, den)
    return agg.select(
        m.alias("n_other"),
        n.alias("n_urgent"),
        F.round((rb1 - rb0) / F.when(m + n * 1.0 != 0, m + n * 1.0) + 0.5, 4).alias(
            "p_hat"
        ),
        (F.round(bm, 4) + F.lit(0.0)).alias("bm_stat"),
        F.when(F.abs(bm) > 1.96, 1).otherwise(0).cast("int").alias("reject_equal"),
    )


# ---------------------------------------------------------------------------
# Lilliefors normality test (polynomial normal CDF)


def _pphi(z: str) -> str:
    """Normal CDF via Zelen–Severo 26.2.17 (|err| < 7.5e-8): the only
    transcendental is exp (portable in practice across this repo's
    graded surface, unlike trig — SCALE.md round-12 #2); everything
    else is +,*,/ in one fixed order. Mirrors to the negative axis by
    symmetry."""
    az = f"abs({z})"
    t = f"(1.0 / (1.0 + 0.2316419e0 * {az}))"
    poly = (
        f"({t} * (0.319381530e0 + {t} * (-0.356563782e0 + {t} * "
        f"(1.781477937e0 + {t} * (-1.821255978e0 + {t} * 1.330274429e0)))))"
    )
    upper = f"(1.0 - 0.3989422804014327e0 * exp(-0.5e0 * {az} * {az}) * {poly})"
    return f"(CASE WHEN {z} >= 0 THEN {upper} ELSE 1.0 - {upper} END)"


@register(
    "q_lilliefors",
    oracle=f"""
        WITH pts AS (
            SELECT ln(o_totalprice) AS x, o_orderkey AS okey FROM orders
        ),
        m AS (
            SELECT count(*) AS n, avg(x) AS mu,
                   sqrt((sum(x * x) - count(*) * avg(x) * avg(x))
                        / nullif(count(*) - 1.0, 0)) AS sig
            FROM pts
        ),
        rk AS (
            SELECT row_number() OVER (ORDER BY x, okey) AS r,
                   (x - m.mu) / nullif(m.sig, 0) AS z,
                   m.n, m.mu, m.sig
            FROM pts, m
        ),
        d AS (
            SELECT max(n) AS n, max(mu) AS mu, max(sig) AS sig,
                   max(r * 1.0 / n - {_pphi("z")}) AS dplus,
                   max({_pphi("z")} - (r - 1.0) / n) AS dminus
            FROM rk
        )
        SELECT CAST(n AS BIGINT) AS n_orders,
               round(mu, 4) AS mu_hat,
               round(sig, 4) AS sigma_hat,
               round(CASE WHEN dplus > dminus THEN dplus ELSE dminus END, 4)
                   AS d_stat,
               CAST(CASE WHEN (CASE WHEN dplus > dminus THEN dplus
                               ELSE dminus END)
                              > 0.886 / sqrt(n * 1.0)
                    THEN 1 ELSE 0 END AS INT) AS reject_normal
        FROM d
    """,
    category="analytics",
)
def q_lilliefors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lilliefors normality test on log order value: the KS supremum
    D = max(D⁺, D⁻) against the normal with ESTIMATED μ̂, σ̂ — the
    composite-null correction q_ks_test (fixed reference) and
    q_jarque_bera (moment form) don't make; critical 0.886/√n (5%
    asymptotic). The normal CDF is the shared Zelen–Severo polynomial
    (only exp crosses libm; the rational part is one fixed IEEE order
    on both engines).

    One combinable moment pass for μ̂/σ̂, one STITCHED global rank over
    the (x, orderkey) total order for the ECDF (no single-partition
    window), and the sup is a plain max aggregate — ties share an x so
    the larger r covers D⁺ and the smaller (r−1) covers D⁻ exactly as
    the textbook ECDF does. Guards: constant series (σ̂=0) or n<2
    null the statistic."""
    from builder_spark.operators.partitioning import stitched_running

    pts = load_table(spark, sf_dir, "orders").select(
        F.log("o_totalprice").alias("x"), F.col("o_orderkey").alias("okey")
    )
    cnt = F.count(F.lit(1))
    m = pts.agg(
        cnt.alias("n"),
        F.avg("x").alias("mu"),
        F.sqrt(
            (F.sum(F.col("x") * F.col("x")) - cnt * F.avg("x") * F.avg("x"))
            / F.when(cnt - 1.0 != 0, cnt - 1.0)
        ).alias("sig"),
    )
    rk = (
        stitched_running(pts, ["x", "okey"], rank_name="r")
        .crossJoin(F.broadcast(m))
        .select(
            "r",
            "n",
            "mu",
            "sig",
            (
                (F.col("x") - F.col("mu"))
                / F.when(F.col("sig") != 0, F.col("sig"))
            ).alias("z"),
        )
    )
    phi = F.expr(_pphi("z"))
    d = rk.agg(
        F.max("n").alias("n"),
        F.max("mu").alias("mu"),
        F.max("sig").alias("sig"),
        F.max(F.col("r") * 1.0 / F.col("n") - phi).alias("dplus"),
        F.max(phi - (F.col("r") - 1.0) / F.col("n")).alias("dminus"),
    )
    dstat = F.when(F.col("dplus") > F.col("dminus"), F.col("dplus")).otherwise(
        F.col("dminus")
    )
    return d.select(
        F.col("n").cast("bigint").alias("n_orders"),
        F.round(F.col("mu"), 4).alias("mu_hat"),
        F.round(F.col("sig"), 4).alias("sigma_hat"),
        F.round(dstat, 4).alias("d_stat"),
        F.when(dstat > 0.886 / F.sqrt(F.col("n") * 1.0), 1)
        .otherwise(0)
        .cast("int")
        .alias("reject_normal"),
    )


# ---------------------------------------------------------------------------
# Watson U² circular uniformity on day-of-week


@register(
    "q_watson_u2",
    oracle="""
        WITH cells AS (
            SELECT isodow(o_orderdate) AS dow,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM orders GROUP BY 1
        ),
        grid AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS dow),
        dense AS (
            SELECT g.dow, coalesce(c.cnt, 0) AS cnt
            FROM grid g LEFT JOIN cells c USING (dow)
        ),
        cdf AS (
            SELECT dow, cnt,
                   sum(cnt) OVER (ORDER BY dow
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum,
                   sum(cnt) OVER () AS n
            FROM dense
        ),
        dev AS (
            SELECT max(n) AS n,
                   sum((cum * 1.0 / nullif(n, 0) - dow / 7.0)
                       * (cnt * 1.0 / nullif(n, 0))) AS dbar,
                   sum((cum * 1.0 / nullif(n, 0) - dow / 7.0)
                       * (cum * 1.0 / nullif(n, 0) - dow / 7.0)
                       * (cnt * 1.0 / nullif(n, 0))) AS d2
            FROM cdf
        )
        SELECT CAST(n AS BIGINT) AS n_orders,
               round(n * (d2 - dbar * dbar), 4) + 0.0 AS watson_u2,
               CAST(CASE WHEN n * (d2 - dbar * dbar) > 0.187
                    THEN 1 ELSE 0 END AS INT) AS nonuniform
        FROM dev
    """,
    category="analytics",
)
def q_watson_u2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watson's U² circular uniformity test on order day-of-week:
    U² = n·Σ[(F_i − G_i)² − (Σ(F−G)w)²]·w over the 7-cell circle —
    rotation-INVARIANT where a plain KS (q_ks_uniform, day-of-month)
    depends on where the week "starts"; the omnibus companion of
    q_circular_rayleigh's first-moment resultant (Rayleigh misses
    bimodal departures; Watson doesn't). Fixed 5% critical 0.187.

    One combinable pass to 7 ISO-dow cells (the q_activity_heatmap
    alignment — Spark dayofweek and DuckDB dow disagree, ISO doesn't),
    densified against a literal grid so missing weekdays exist on both
    engines; the bounded 7-row CDF window and the closed form follow.
    Exact integer counts; empty corpus nulls U² identically."""
    from pyspark.sql import Window

    cells = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.expr("extract(DAYOFWEEK_ISO FROM o_orderdate)")
            .cast("int")
            .alias("dow")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    grid = spark.createDataFrame([(i,) for i in range(1, 8)], "dow int")
    dense = grid.join(F.broadcast(cells), "dow", "left").select(
        "dow", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )
    w = Window.orderBy("dow").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.orderBy("dow").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cdf = dense.select(
        "dow",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wt).alias("n"),
    )
    nn = F.when(F.col("n") != 0, F.col("n"))
    g = F.col("cum") * 1.0 / nn - F.col("dow") / 7.0
    wgt = F.col("cnt") * 1.0 / nn
    dev = cdf.agg(
        F.max("n").alias("n"),
        F.sum(g * wgt).alias("dbar"),
        F.sum(g * g * wgt).alias("d2"),
    )
    u2 = F.col("n") * (F.col("d2") - F.col("dbar") * F.col("dbar"))
    return dev.select(
        F.col("n").cast("bigint").alias("n_orders"),
        (F.round(u2, 4) + F.lit(0.0)).alias("watson_u2"),
        F.when(u2 > 0.187, 1).otherwise(0).cast("int").alias("nonuniform"),
    )


# ---------------------------------------------------------------------------
# Rank-biased overlap between full and truncated rankings


def _rbo_top5_sql(k: int | None, tag: str) -> str:
    """Top-5 cosine CTE retaining the rank (the q_mrl_truncation_recall
    list builder with rnk exposed)."""
    sl = f"[1:{k}]" if k is not None else ""
    dot = _DOT12B.format(a=f"q.embedding{sl}", b=f"e.embedding{sl}")
    nq = _NORM12B.format(v=f"q.embedding{sl}")
    nc = _NORM12B.format(v=f"e.embedding{sl}")
    return f"""
        {tag} AS (
            SELECT q_id, vec_id, rnk FROM (
                SELECT q.vec_id AS q_id, e.vec_id,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY round({dot} / nullif({nq} * {nc}, 0), 4)
                               DESC NULLS LAST, e.vec_id ASC) AS rnk
                FROM embeddings q CROSS JOIN embeddings e
                WHERE q.vec_id < 20 AND e.vec_id != q.vec_id
            ) WHERE rnk <= 5
        )"""


@register(
    "q_rbo_ranking",
    oracle=f"""
        WITH {_rbo_top5_sql(None, "full_top")},
        {_rbo_top5_sql(16, "trunc_top")},
        pairs AS (
            SELECT f.q_id, f.rnk AS fr, t.rnk AS tr
            FROM full_top f
            JOIN trunc_top t ON t.q_id = f.q_id AND t.vec_id = f.vec_id
        ),
        depth AS (SELECT unnest([1, 2, 3, 4, 5]) AS d),
        ad AS (
            SELECT q.q_id, dp.d,
                   CAST(count(p.q_id) AS BIGINT) AS a_d
            FROM (SELECT DISTINCT q_id FROM full_top) q
            CROSS JOIN depth dp
            LEFT JOIN pairs p ON p.q_id = q.q_id
                              AND p.fr <= dp.d AND p.tr <= dp.d
            GROUP BY 1, 2
        ),
        per_q AS (
            SELECT q_id,
                   sum(CASE d WHEN 1 THEN 1.0e0 WHEN 2 THEN 0.9e0
                              WHEN 3 THEN 0.81e0 WHEN 4 THEN 0.729e0
                              ELSE 0.6561e0 END * a_d / d)
                       * 0.1e0 / (1.0 - 0.59049e0) AS rbo
            FROM ad GROUP BY 1
        )
        SELECT CAST(count(*) AS BIGINT) AS n_queries,
               round(avg(rbo), 4) AS avg_rbo,
               round(min(rbo), 4) AS min_rbo,
               round(max(rbo), 4) AS max_rbo
        FROM per_q
    """,
    category="llm-similarity",
)
def q_rbo_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (p = 0.9, depth 5) between the FULL-dim
    cosine top-5 and the 16-dim Matryoshka-truncated top-5 per query:
    RBO = (1−p)/(1−p⁵)·Σ_d p^{{d−1}}·|X_d∩Y_d|/d weights agreement at
    the TOP of the lists — the order-sensitive companion of
    q_mrl_truncation_recall's set recall (two rankings with identical
    top-5 sets but reversed order score very differently here), next
    to q_ndcg_ann / q_mrr_retrieval in the ranking-quality family.

    Both lists come from the shared round-then-rank top-5 builder
    (deterministic on both engines); prefix overlaps A_d are exact
    integer counts against a 5-row literal depth grid, and the p-
    weights are fixed e0 literals — the only floats are one weighted
    sum of ≤5 exact fractions per query. Guards: an empty corpus
    yields n_queries = 0 with NULL aggregates on both engines."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")

    def top5(k: int | None) -> DataFrame:
        vec = F.col("embedding") if k is None else F.slice("embedding", 1, k)
        from builder_spark.functions.vectors import dot_f64, l2_norm

        q = e.filter(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("q_id"), vec.alias("qe")
        ).withColumn("qn", l2_norm("qe"))
        c = e.select("vec_id", vec.alias("ce")).withColumn("cn", l2_norm("ce"))
        norms = F.col("qn") * F.col("cn")
        sim = F.round(dot_f64("qe", "ce") / F.when(norms != 0, norms), 4)
        w = Window.partitionBy("q_id").orderBy(
            F.col("sim").desc_nulls_last(), F.col("vec_id").asc()
        )
        return (
            c.join(F.broadcast(q), F.col("q_id") != F.col("vec_id"))
            .withColumn("sim", sim)
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 5)
            .select("q_id", "vec_id", "rnk")
        )

    full = materialize(top5(None))
    trunc = top5(16).select(
        F.col("q_id").alias("t_qid"), F.col("vec_id").alias("t_vid"),
        F.col("rnk").alias("tr"),
    )
    pairs = full.join(
        F.broadcast(trunc),
        (F.col("q_id") == F.col("t_qid")) & (F.col("vec_id") == F.col("t_vid")),
    ).select("q_id", F.col("rnk").alias("fr"), "tr")
    depth = spark.createDataFrame([(d,) for d in range(1, 6)], "d int")
    qids = full.select("q_id").distinct()
    ad = (
        qids.crossJoin(F.broadcast(depth))
        .join(
            F.broadcast(pairs.select(F.col("q_id").alias("p_qid"), "fr", "tr")),
            (F.col("q_id") == F.col("p_qid"))
            & (F.col("fr") <= F.col("d"))
            & (F.col("tr") <= F.col("d")),
            "left",
        )
        .groupBy("q_id", "d")
        .agg(F.count("p_qid").cast("bigint").alias("a_d"))
    )
    wgt = (
        F.when(F.col("d") == 1, 1.0e0)
        .when(F.col("d") == 2, 0.9e0)
        .when(F.col("d") == 3, 0.81e0)
        .when(F.col("d") == 4, 0.729e0)
        .otherwise(0.6561e0)
    )
    per_q = ad.groupBy("q_id").agg(
        (F.sum(wgt * F.col("a_d") / F.col("d")) * 0.1e0 / (1.0 - 0.59049e0)).alias(
            "rbo"
        )
    )
    return per_q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.round(F.avg("rbo"), 4).alias("avg_rbo"),
        F.round(F.min("rbo"), 4).alias("min_rbo"),
        F.round(F.max("rbo"), 4).alias("max_rbo"),
    )


# ---------------------------------------------------------------------------
# Conover squared-ranks dispersion test (k groups)


@register(
    "q_conover_squared_ranks",
    oracle=f"""
        WITH means AS (
            SELECT {_PRIO_ORD_SQL} AS grp, avg(o_totalprice) AS mu
            FROM orders GROUP BY 1
        ),
        devs AS (
            SELECT m.grp, abs(o.o_totalprice - m.mu) AS av,
                   o.o_orderkey AS okey
            FROM orders o JOIN means m ON {_PRIO_ORD_SQL} = m.grp
        ),
        rk AS (
            SELECT grp,
                   row_number() OVER (ORDER BY av, okey) * 1.0
                       * row_number() OVER (ORDER BY av, okey) AS u
            FROM devs
        ),
        g AS (
            SELECT grp, count(*) AS ng, sum(u) AS su FROM rk GROUP BY grp
        ),
        tot AS (
            SELECT sum(ng) AS n, sum(su) AS st,
                   (SELECT sum(u * u) FROM rk) AS st2
            FROM g
        ),
        stat AS (
            SELECT t.n,
                   (SELECT sum(su * su / nullif(ng * 1.0, 0)) FROM g) AS sq,
                   t.st / nullif(t.n * 1.0, 0) AS ubar,
                   (t.st2 - t.n * (t.st / nullif(t.n * 1.0, 0))
                                * (t.st / nullif(t.n * 1.0, 0)))
                       / nullif(t.n - 1.0, 0) AS d2
            FROM tot t
        )
        SELECT CAST(n AS BIGINT) AS n_orders,
               round((sq - n * ubar * ubar) / nullif(d2, 0), 4) + 0.0
                   AS conover_t,
               CAST(CASE WHEN (sq - n * ubar * ubar) / nullif(d2, 0) > 9.4877
                    THEN 1 ELSE 0 END AS INT) AS unequal_dispersion
        FROM stat
    """,
    category="analytics",
)
def q_conover_squared_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conover squared-ranks test for equal dispersion across the five
    order priorities: rank |x − x̄_g| pooled, square the ranks,
    T = (Σ_g S_g²/n_g − N·ū²)/D² against χ²₄ (9.4877) — the k-GROUP
    dispersion test completing the two-sample q_ansari_bradley, the
    normal-theory q_bartlett_test and the robust q_brown_forsythe.

    One pass for the 5 group means (broadcast), one STITCHED global
    rank over the (|dev|, orderkey) total order, then combinable
    group sums. The squared-rank power sums reach N⁵ — far past both
    int64 and double-exact ranges at scale — so they accumulate as
    widened doubles; the χ²-scale ratio survives the cancellation with
    ~1e-11 relative error (the q_cvm_test precedent, documented).
    Guards: constant corpus (D² = 0) nulls T on both engines."""
    from builder_spark.operators.partitioning import stitched_running

    o = load_table(spark, sf_dir, "orders")
    means = o.groupBy(_prio_ord().alias("grp")).agg(
        F.avg("o_totalprice").alias("mu")
    )
    devs = (
        o.select(
            _prio_ord().alias("grp"),
            F.col("o_totalprice").alias("p"),
            F.col("o_orderkey").alias("okey"),
        )
        .join(F.broadcast(means), "grp")
        .select("grp", F.abs(F.col("p") - F.col("mu")).alias("av"), "okey")
    )
    rk = stitched_running(devs, ["av", "okey"], rank_name="r").select(
        "grp", (F.col("r") * 1.0 * F.col("r")).alias("u")
    )
    g = materialize(rk.groupBy("grp").agg(
        F.count(F.lit(1)).alias("ng"), F.sum("u").alias("su")
    ))
    sq = g.agg(
        F.sum(
            F.col("su") * F.col("su") / F.when(F.col("ng") * 1.0 != 0, F.col("ng") * 1.0)
        ).alias("sq")
    )
    st2 = rk.agg(F.sum(F.col("u") * F.col("u")).alias("st2"))
    tot = g.agg(F.sum("ng").alias("n"), F.sum("su").alias("st"))
    n = F.col("n")
    nn = F.when(n * 1.0 != 0, n * 1.0)
    ubar = F.col("st") / nn
    d2 = (F.col("st2") - n * ubar * ubar) / F.when(n - 1.0 != 0, n - 1.0)
    t_stat = (F.col("sq") - n * ubar * ubar) / F.when(d2 != 0, d2)
    return (
        tot.crossJoin(F.broadcast(sq))
        .crossJoin(F.broadcast(st2))
        .select(
            n.cast("bigint").alias("n_orders"),
            (F.round(t_stat, 4) + F.lit(0.0)).alias("conover_t"),
            F.when(t_stat > 9.4877, 1)
            .otherwise(0)
            .cast("int")
            .alias("unequal_dispersion"),
        )
    )


# ---------------------------------------------------------------------------
# CSV corrupt-record handling (PERMISSIVE parse audit)


@register(
    "q_csv_corrupt_records",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN doc_id % 50 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_corrupt,
               CAST(sum(CASE WHEN doc_id % 50 != 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_valid,
               CAST(sum(CASE WHEN doc_id % 50 != 0 THEN doc_id END)
                    AS BIGINT) AS valid_id_sum,
               CAST(sum(CASE WHEN doc_id % 50 != 0 THEN n_chars END)
                    AS BIGINT) AS valid_chars_sum
        FROM documents
    """,
    category="source-sink",
)
def q_csv_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE corrupt-record audit — the ingest path every 100 TB
    CSV feed needs: 2% of lines are written deliberately malformed
    (unparseable doc_id), the reader runs in PERMISSIVE mode with
    columnNameOfCorruptRecord, and the query reports clean/corrupt
    line counts plus checksums of the rows that survived — hash-
    matched against the ORIGINAL table's expected split, proving no
    silent row drops and no corruption bleed into parsed columns.
    Completes q_csv_roundtrip (happy path) the way a production
    badRecordsPath audit would.

    The malformed lines are deterministic (doc_id % 50 = 0 → leading
    'x' breaks the bigint parse), written executor-side through the
    text sink; the read uses an explicit schema (no inference scan).
    Degenerate guard: empty corpus reads back 0 rows, all counts 0."""
    from builder_spark.queries.sourcesink import scratch_dir
    from builder_spark.sources import read_text, write_text

    d = load_table(spark, sf_dir, "documents").select(
        F.when(
            F.col("doc_id") % 50 == 0,
            F.concat(F.lit("x"), F.col("doc_id"), F.lit(","), F.col("lang"),
                     F.lit(","), F.col("n_chars")),
        )
        .otherwise(
            F.concat(F.col("doc_id").cast("string"), F.lit(","), F.col("lang"),
                     F.lit(","), F.col("n_chars"))
        )
        .alias("text")
    )
    out = scratch_dir("csv_corrupt")
    write_text(d, out)
    back = (
        spark.read.schema(
            "doc_id bigint, lang string, n_chars bigint, _corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(out)
    )
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.when(F.col("_corrupt").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_corrupt"),
        F.sum(F.when(F.col("_corrupt").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_valid"),
        F.sum(F.when(F.col("_corrupt").isNull(), F.col("doc_id")))
        .cast("bigint")
        .alias("valid_id_sum"),
        F.sum(F.when(F.col("_corrupt").isNull(), F.col("n_chars")))
        .cast("bigint")
        .alias("valid_chars_sum"),
    )


# ---------------------------------------------------------------------------
# Bartels rank von Neumann randomness test


@register(
    "q_bartels_rank",
    oracle=f"""
        WITH {_DAILY_SQL},
        rk AS (
            SELECT d, row_number() OVER (ORDER BY rev, d) AS r
            FROM daily
        ),
        nx AS (
            SELECT r,
                   lead(r) OVER (ORDER BY d) AS rn
            FROM rk
        ),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   sum(CASE WHEN rn IS NOT NULL
                            THEN (r - rn) * 1.0 * (r - rn) END) AS sd2
            FROM nx
        )
        SELECT n AS n_days,
               round(sd2 / nullif((n * 1.0 * n * n - n) / 12, 0), 4) AS rvn,
               round((sd2 / nullif((n * 1.0 * n * n - n) / 12, 0) - 2)
                     / nullif(sqrt(CASE WHEN n > 0
                                        THEN 20.0 / (5 * n + 7) END), 0), 4)
                   + 0.0 AS bartels_z,
               CAST(CASE WHEN abs((sd2 / nullif((n * 1.0 * n * n - n)
                                                / 12, 0) - 2)
                              / nullif(sqrt(CASE WHEN n > 0
                                            THEN 20.0 / (5 * n + 7) END), 0))
                              > 1.96
                    THEN 1 ELSE 0 END AS INT) AS nonrandom
        FROM agg
    """,
    category="analytics",
)
def q_bartels_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartels rank von Neumann ratio — the RANK version of the
    von Neumann randomness test on daily revenue: RVN = Σ(R_t −
    R_{{t+1}})² / Σ(R_t − R̄)², E = 2 under randomness, z with the
    asymptotic variance 20/(5n+7); RVN ≪ 2 flags positive serial
    dependence, ≫ 2 alternation. The rank companion of q_runs_test
    (signs) and q_ljung_box (parametric ACF) — robust to the revenue
    distribution's heavy tail.

    Ranks are a PERMUTATION of 1..n (ties broken by date), so the
    denominator is the closed form (n³−n)/12 — exact, no second pass;
    the numerator is one whitelisted day-grain lead window over the
    calendar-bounded rank table. Widened products per the r11 ADVICE
    discipline. Guards: n ≤ 1 nulls the ratio on both engines."""
    from pyspark.sql import Window

    daily = _daily(spark, sf_dir)
    rk = daily.select(
        "d", F.row_number().over(Window.orderBy("rev", "d")).alias("r")
    )
    nx = rk.select(
        "r", F.lead("r").over(Window.orderBy("d")).alias("rn")
    )
    agg = nx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(
                F.col("rn").isNotNull(),
                (F.col("r") - F.col("rn")) * 1.0 * (F.col("r") - F.col("rn")),
            )
        ).alias("sd2"),
    )
    n = F.col("n")
    den = (n * 1.0 * n * n - n) / 12
    rvn = F.col("sd2") / F.when(den != 0, den)
    sd = F.sqrt(F.when(n > 0, 20.0 / (5 * n + 7)))
    z = (rvn - 2) / F.when(sd != 0, sd)
    return agg.select(
        n.alias("n_days"),
        F.round(rvn, 4).alias("rvn"),
        (F.round(z, 4) + F.lit(0.0)).alias("bartels_z"),
        F.when(F.abs(z) > 1.96, 1).otherwise(0).cast("int").alias("nonrandom"),
    )


# ---------------------------------------------------------------------------
# Grubbs max-|z| outlier screen with Bonferroni-normal p


@register(
    "q_grubbs_max_z",
    oracle=f"""
        WITH {_DAILY_SQL},
        m AS (
            SELECT count(*) AS n, avg(rev / 100.0) AS mu,
                   sqrt((sum((rev / 100.0) * (rev / 100.0))
                         - count(*) * avg(rev / 100.0) * avg(rev / 100.0))
                        / nullif(count(*) - 1.0, 0)) AS sig
            FROM daily
        ),
        g AS (
            SELECT m.n, m.mu, m.sig,
                   max(abs(daily.rev / 100.0 - m.mu) / nullif(m.sig, 0)) AS gmax
            FROM daily, m
            GROUP BY m.n, m.mu, m.sig
        )
        SELECT CAST(n AS BIGINT) AS n_days,
               round(gmax, 4) AS grubbs_g,
               round(2 * n * (1.0 - {_pphi("gmax")}), 4) + 0.0 AS p_bonf,
               CAST(CASE WHEN 2 * n * (1.0 - {_pphi("gmax")}) < 0.05
                    THEN 1 ELSE 0 END AS INT) AS outlier_detected
        FROM g
    """,
    category="analytics",
)
def q_grubbs_max_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs-style max-|z| outlier screen on daily revenue: G =
    max|x−x̄|/s with the Bonferroni-normal tail bound p ≈ 2n(1−Φ(G))
    (the large-n Grubbs approximation — the exact critical needs a t
    quantile; the normal bound is conservative and closed-form). The
    single-most-extreme-day companion of q_esd_outliers (iterative,
    k outliers) and q_anomaly_mad (robust center) — this one yields a
    p-value through the shared polynomial Φ.

    One combinable moment pass (1-row broadcast), one max aggregate
    over the calendar-bounded day table — no window at all; Φ is the
    same Zelen–Severo polynomial as q_lilliefors (only exp crosses
    libm). Guards: constant series (s = 0) or empty table nulls G."""
    daily = _daily(spark, sf_dir)
    cnt = F.count(F.lit(1))
    y = F.col("rev") / 100.0
    m = daily.agg(
        cnt.alias("n"),
        F.avg(y).alias("mu"),
        F.sqrt(
            (F.sum(y * y) - cnt * F.avg(y) * F.avg(y))
            / F.when(cnt - 1.0 != 0, cnt - 1.0)
        ).alias("sig"),
    )
    g = (
        daily.crossJoin(F.broadcast(m))
        .groupBy("n", "mu", "sig")
        .agg(
            F.max(
                F.abs(F.col("rev") / 100.0 - F.col("mu"))
                / F.when(F.col("sig") != 0, F.col("sig"))
            ).alias("gmax")
        )
    )
    phi = F.expr(_pphi("gmax"))
    p = 2 * F.col("n") * (1.0 - phi)
    return g.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round(F.col("gmax"), 4).alias("grubbs_g"),
        (F.round(p, 4) + F.lit(0.0)).alias("p_bonf"),
        F.when(p < 0.05, 1).otherwise(0).cast("int").alias("outlier_detected"),
    )


# ---------------------------------------------------------------------------
# Cucconi joint location-scale two-sample test


@register(
    "q_cucconi_test",
    oracle="""
        WITH x AS (
            SELECT o_totalprice AS price, o_orderkey AS okey,
                   CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END AS samp
            FROM orders
        ),
        rk AS (
            SELECT samp, row_number() OVER (ORDER BY price, okey) * 1.0 AS r,
                   count(*) OVER () * 1.0 AS nn
            FROM x
        ),
        agg AS (
            SELECT CAST(sum(CASE WHEN samp = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n1,
                   CAST(sum(CASE WHEN samp = 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS m1,
                   max(nn) AS nt,
                   sum(CASE WHEN samp = 1 THEN r * r END) AS sr2,
                   sum(CASE WHEN samp = 1
                            THEN (nn + 1 - r) * (nn + 1 - r) END) AS sc2
            FROM rk
        ),
        uv AS (
            SELECT n1, m1, nt,
                   (6 * sr2 - n1 * (nt + 1) * (2 * nt + 1))
                   / nullif(sqrt(CASE WHEN m1 * 1.0 * n1 * (nt + 1)
                                           * (2 * nt + 1) * (8 * nt + 11) / 5
                                           > 0
                                      THEN m1 * 1.0 * n1 * (nt + 1)
                                           * (2 * nt + 1) * (8 * nt + 11) / 5
                                 END), 0) AS u,
                   (6 * sc2 - n1 * (nt + 1) * (2 * nt + 1))
                   / nullif(sqrt(CASE WHEN m1 * 1.0 * n1 * (nt + 1)
                                           * (2 * nt + 1) * (8 * nt + 11) / 5
                                           > 0
                                      THEN m1 * 1.0 * n1 * (nt + 1)
                                           * (2 * nt + 1) * (8 * nt + 11) / 5
                                 END), 0) AS v,
                   (2 * (nt * nt - 4))
                       / nullif((2 * nt + 1) * (8 * nt + 11), 0) - 1 AS rho
            FROM agg
        )
        SELECT n1 AS n_urgent, m1 AS n_other,
               round(u, 4) + 0.0 AS cucconi_u,
               round(v, 4) + 0.0 AS cucconi_v,
               round((u * u + v * v - 2 * rho * u * v)
                     / nullif(2 * (1 - rho * rho), 0), 4) + 0.0 AS cucconi_c,
               CAST(CASE WHEN (u * u + v * v - 2 * rho * u * v)
                              / nullif(2 * (1 - rho * rho), 0) > 2.9957
                    THEN 1 ELSE 0 END AS INT) AS reject_same
        FROM uv
    """,
    category="analytics",
)
def q_cucconi_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cucconi joint location-SCALE two-sample test (urgent/high order
    values vs the rest): U standardizes Σ rank², V the contrary
    Σ(N+1−rank)², C = (U²+V²−2ρUV)/(2(1−ρ²)) with the closed-form ρ;
    asymptotically p = e^{-C}, reject at C > 2.9957 (5%). One test
    that catches BOTH a location shift and a dispersion change —
    where q_mann_whitney_u sees only location, q_ansari_bradley only
    scale, and q_cvm_test needs the whole CDF.

    ONE stitched global rank pass (with_totals supplies N in the same
    pass — cheaper than the CvM/BM two-pass shape); Σrank² power sums
    reach N³, so they accumulate as widened doubles (the q_cvm_test
    precedent, ~1e-9 noise on an O(1) statistic). Guards: one-sample-
    empty or N ≤ 2 nulls U/V/ρ denominators identically."""
    from builder_spark.operators.partitioning import stitched_running

    x = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("price"),
        F.col("o_orderkey").alias("okey"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        ).otherwise(0).alias("samp"),
    )
    rk = stitched_running(
        x, ["price", "okey"], rank_name="r", with_totals=True
    ).select(
        "samp", (F.col("r") * 1.0).alias("r"), (F.col("r_total") * 1.0).alias("nn")
    )
    agg = rk.agg(
        F.sum(F.when(F.col("samp") == 1, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("samp") == 0, 1).otherwise(0)).cast("bigint").alias("m1"),
        F.max("nn").alias("nt"),
        F.sum(F.when(F.col("samp") == 1, F.col("r") * F.col("r"))).alias("sr2"),
        F.sum(
            F.when(
                F.col("samp") == 1,
                (F.col("nn") + 1 - F.col("r")) * (F.col("nn") + 1 - F.col("r")),
            )
        ).alias("sc2"),
    )
    n1, m1, nt = F.col("n1"), F.col("m1"), F.col("nt")
    var = m1 * 1.0 * n1 * (nt + 1) * (2 * nt + 1) * (8 * nt + 11) / 5
    sden = F.sqrt(F.when(var > 0, var))
    u = (6 * F.col("sr2") - n1 * (nt + 1) * (2 * nt + 1)) / F.when(sden != 0, sden)
    v = (6 * F.col("sc2") - n1 * (nt + 1) * (2 * nt + 1)) / F.when(sden != 0, sden)
    rden = (2 * nt + 1) * (8 * nt + 11)
    rho = (2 * (nt * nt - 4)) / F.when(rden != 0, rden) - 1
    cden = 2 * (1 - rho * rho)
    c = (u * u + v * v - 2 * rho * u * v) / F.when(cden != 0, cden)
    return agg.select(
        n1.alias("n_urgent"),
        m1.alias("n_other"),
        (F.round(u, 4) + F.lit(0.0)).alias("cucconi_u"),
        (F.round(v, 4) + F.lit(0.0)).alias("cucconi_v"),
        (F.round(c, 4) + F.lit(0.0)).alias("cucconi_c"),
        F.when(c > 2.9957, 1).otherwise(0).cast("int").alias("reject_same"),
    )


# ---------------------------------------------------------------------------
# Cochran's C max-variance homogeneity screen


@register(
    "q_cochran_c_test",
    oracle=f"""
        WITH g AS (
            SELECT {_PRIO_ORD_SQL} AS grp, count(*) AS n,
                   (sum(o_totalprice * o_totalprice)
                    - count(*) * avg(o_totalprice) * avg(o_totalprice))
                       / nullif(count(*) - 1.0, 0) AS s2
            FROM orders GROUP BY 1
        )
        SELECT CAST(count(*) AS BIGINT) AS n_groups,
               round(max(s2) / nullif(sum(s2), 0), 4) AS cochran_c,
               round(1.0 / nullif(count(*), 0), 4) AS expected_c,
               CAST(CASE WHEN max(s2) / nullif(sum(s2), 0)
                              > 1.1 / nullif(count(*), 0) THEN 1 ELSE 0 END
                    AS INT) AS variance_outlier
        FROM g
    """,
    category="analytics",
)
def q_cochran_c_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's C — the max-variance homogeneity screen across the
    five priority groups: C = max(s_g²)/Σs_g², E[C] = 1/k under
    homogeneity; flagged when one group holds >1.1/k of the pooled
    variance (a conservative large-ν bar — the exact critical needs an
    F quantile and converges to 1/k as ν→∞). The quick screen run
    BEFORE q_bartlett_test / q_brown_forsythe: it names the single
    worst group instead of testing the global null.

    One combinable pass to 5 group moments; exact integer counts feed
    the single-division variance form (the q_burstiness bit-identity
    lesson — no engine-internal var_samp). Guards: single-order groups
    null their s², an all-constant corpus nulls C."""
    g = (
        load_table(spark, sf_dir, "orders")
        .groupBy(_prio_ord().alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                (
                    F.sum(F.col("o_totalprice") * F.col("o_totalprice"))
                    - F.count(F.lit(1))
                    * F.avg("o_totalprice")
                    * F.avg("o_totalprice")
                )
                / F.when(
                    F.count(F.lit(1)) - 1.0 != 0, F.count(F.lit(1)) - 1.0
                )
            ).alias("s2"),
        )
    )
    k = F.count(F.lit(1))
    c = F.max("s2") / F.when(F.sum("s2") != 0, F.sum("s2"))
    return g.agg(
        k.cast("bigint").alias("n_groups"),
        F.round(c, 4).alias("cochran_c"),
        F.round(1.0 / F.when(k != 0, k), 4).alias("expected_c"),
        F.when(c > 1.1 / F.when(k != 0, k), 1)
        .otherwise(0)
        .cast("int")
        .alias("variance_outlier"),
    )


# ---------------------------------------------------------------------------
# Context-length padding waste curve


@register(
    "q_padding_waste_curve",
    oracle="""
        WITH toks AS (
            SELECT len(string_split(text, ' ')) AS tok FROM documents
        ),
        grid AS (SELECT unnest([128, 256, 512, 1024]) AS ctx_len),
        agg AS (
            SELECT g.ctx_len,
                   CAST(count(tok) AS BIGINT) AS n_docs,
                   CAST(sum(tok) AS BIGINT) AS total_tokens,
                   CAST(sum(((tok + g.ctx_len - 1) // g.ctx_len) * g.ctx_len)
                        AS BIGINT) AS total_padded
            FROM grid g LEFT JOIN toks ON TRUE GROUP BY 1
        )
        SELECT ctx_len, n_docs, total_tokens, total_padded,
               round((total_padded - total_tokens) * 1.0
                     / nullif(total_padded, 0), 4) AS waste_share
        FROM agg
        ORDER BY ctx_len
    """,
    category="llm-pipeline",
)
def q_padding_waste_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length padding waste curve: if every document is split
    into ⌈tok/L⌉ chunks padded to L, what share of the batch is pad
    tokens, for L ∈ {128, 256, 512, 1024}? The capacity-planning
    number behind choosing a training context length — the
    one-document-per-sequence WORST CASE that q_seq_packing's
    first-fit packing then recovers, and the cost side of
    q_context_overflow's truncation-loss tradeoff.

    One fact pass against a 4-row broadcast grid; chunk counts are
    exact integer ceil-division (// and div truncate identically on
    nonnegative ints — the cast-direction trap from SURVEY §2 never
    enters). Guards: empty corpus keeps all 4 grid rows with zero
    totals and NULL waste on both engines."""
    toks = load_table(spark, sf_dir, "documents").select(
        F.size(F.split("text", " ")).alias("tok")
    )
    grid = spark.createDataFrame([(l,) for l in (128, 256, 512, 1024)], "ctx_len int")
    agg = (
        grid.join(toks, F.lit(True), "left")
        .groupBy("ctx_len")
        .agg(
            F.count("tok").cast("bigint").alias("n_docs"),
            F.sum("tok").cast("bigint").alias("total_tokens"),
            F.sum(
                F.expr("((tok + ctx_len - 1) div ctx_len)") * F.col("ctx_len")
            )
            .cast("bigint")
            .alias("total_padded"),
        )
    )
    return agg.select(
        "ctx_len",
        "n_docs",
        "total_tokens",
        "total_padded",
        F.round(
            (F.col("total_padded") - F.col("total_tokens"))
            * 1.0
            / F.when(F.col("total_padded") != 0, F.col("total_padded")),
            4,
        ).alias("waste_share"),
    ).orderBy("ctx_len")


# ---------------------------------------------------------------------------
# CSV quoting/escaping roundtrip


@register(
    "q_csv_quoting_roundtrip",
    oracle="""
        WITH adv AS (
            SELECT doc_id,
                   'pre,"' || lang || '",' || chr(10) || 'post' AS v
            FROM documents
        )
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(doc_id) AS BIGINT) AS id_sum,
               CAST(sum(length(v)) AS BIGINT) AS value_cp,
               CAST(count(DISTINCT md5(v)) AS BIGINT) AS distinct_values
        FROM adv
    """,
    category="source-sink",
)
def q_csv_quoting_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV QUOTING-path roundtrip: every row carries a value with an
    embedded delimiter, embedded double quotes AND an embedded
    newline ('pre,"<lang>",\\npost') — the three things that break
    naive line-oriented CSV. Spark's writer must quote+escape, the
    reader must run in multiLine mode to reassemble the record, and
    the checksums must match stats computed on the ORIGINAL values.
    q_csv_roundtrip covers the happy path and q_csv_corrupt_records
    the malformed path; this is the escaping path — the one that
    silently corrupts feeds when quote/escape configs drift.

    multiLine read disables intra-file split parallelism (each file
    one task) — the documented cost of embedded newlines at 100 TB,
    which is why the writer keeps many small part files. Explicit
    schema; empty corpus reads back 0 rows."""
    from builder_spark.queries.sourcesink import scratch_dir

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit('pre,"'), F.col("lang"), F.lit('",'), F.lit("\n"), F.lit("post")
        ).alias("v"),
    )
    out = scratch_dir("csv_quoting")
    d.write.mode("overwrite").option("header", "false").csv(out)
    back = (
        spark.read.schema("doc_id bigint, v string")
        .option("multiLine", "true")
        .csv(out)
    )
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
        F.sum(F.length("v")).cast("bigint").alias("value_cp"),
        F.countDistinct(F.md5("v")).cast("bigint").alias("distinct_values"),
    )


# ---------------------------------------------------------------------------
# Pettitt changepoint test


@register(
    "q_pettitt_test",
    oracle=f"""
        WITH {_DAILY_SQL},
        rk AS (
            SELECT d, row_number() OVER (ORDER BY rev, d) AS r,
                   row_number() OVER (ORDER BY d) AS t,
                   count(*) OVER () AS n
            FROM daily
        ),
        u AS (
            SELECT d, n,
                   2 * sum(r) OVER (ORDER BY d
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW)
                       - t * (n + 1) AS ut
            FROM rk
        ),
        k AS (
            SELECT max(n) AS n, max(abs(ut)) AS kmax
            FROM u
        ),
        arg AS (
            SELECT min(u.d) AS change_d
            FROM u, k WHERE abs(u.ut) = k.kmax
        )
        SELECT CAST(k.n AS BIGINT) AS n_days,
               CAST(k.kmax AS BIGINT) AS k_stat,
               arg.change_d AS change_date,
               round(2 * exp(-6.0 * k.kmax * k.kmax
                             / nullif(k.n * 1.0 * k.n * k.n
                                      + k.n * 1.0 * k.n, 0)), 4)
                   AS p_approx,
               CAST(CASE WHEN 2 * exp(-6.0 * k.kmax * k.kmax
                                      / nullif(k.n * 1.0 * k.n * k.n
                                               + k.n * 1.0 * k.n, 0)) < 0.05
                    THEN 1 ELSE 0 END AS INT) AS change_detected
        FROM k, arg
    """,
    category="analytics",
)
def q_pettitt_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt changepoint test on daily revenue — the rank-based
    Mann–Whitney-at-every-split statistic K = max_t |U_t| with the
    exact identity U_t = 2·Σ_{{i≤t}}R_i − t(n+1) (no O(n²) pair scan),
    the approximate p = 2·exp(−6K²/(n³+n²)), and the argmax DATE. The
    nonparametric, single-unknown-changepoint member next to
    q_cusum_changepoint (parametric cumsum), q_page_hinkley (online)
    and q_binary_segmentation (recursive); Chow (q_chow_test) needs
    the date hypothesized — Pettitt finds it.

    Two whitelisted day-grain windows (value rank, time cumsum) over
    the calendar-bounded day table — integer-exact until the final
    exp; argmax resolved as MIN date attaining K (deterministic under
    ties on both engines). Guards: empty table nulls K and the p."""
    from pyspark.sql import Window

    daily = _daily(spark, sf_dir)
    rk = daily.select(
        "d",
        F.row_number().over(Window.orderBy("rev", "d")).alias("r"),
        F.row_number().over(Window.orderBy("d")).alias("t"),
        F.count(F.lit(1)).over(
            Window.orderBy("d").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    u = rk.select(
        "d",
        "n",
        (
            2 * F.sum("r").over(
                Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
            )
            - F.col("t") * (F.col("n") + 1)
        ).alias("ut"),
    )
    k = u.agg(F.max("n").alias("n"), F.max(F.abs(F.col("ut"))).alias("kmax"))
    arg = (
        u.crossJoin(F.broadcast(k.select(F.col("kmax").alias("km"))))
        .filter(F.abs(F.col("ut")) == F.col("km"))
        .agg(F.min("d").alias("change_date"))
    )
    n = F.col("n")
    pden = n * 1.0 * n * n + n * 1.0 * n
    p = 2 * F.exp(-6.0 * F.col("kmax") * F.col("kmax") / F.when(pden != 0, pden))
    return k.crossJoin(F.broadcast(arg)).select(
        n.cast("bigint").alias("n_days"),
        F.col("kmax").cast("bigint").alias("k_stat"),
        F.col("change_date"),
        F.round(p, 4).alias("p_approx"),
        F.when(p < 0.05, 1).otherwise(0).cast("int").alias("change_detected"),
    )


# ---------------------------------------------------------------------------
# Seasonal Mann–Kendall trend test


@register(
    "q_seasonal_mann_kendall",
    oracle="""
        WITH mo AS (
            SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
                   month(CAST(o_orderdate AS DATE)) AS moy,
                   year(CAST(o_orderdate AS DATE)) AS yr,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS rev
            FROM orders GROUP BY 1, 2, 3
        ),
        s AS (
            SELECT a.moy,
                   CAST(sum(CASE WHEN b.rev > a.rev THEN 1
                                 WHEN b.rev < a.rev THEN -1 ELSE 0 END)
                        AS BIGINT) AS s_m,
                   CAST(count(*) AS BIGINT) AS n_pairs
            FROM mo a JOIN mo b ON a.moy = b.moy AND b.yr > a.yr
            GROUP BY a.moy
        ),
        nm AS (
            SELECT moy, CAST(count(*) AS BIGINT) AS n_m
            FROM mo GROUP BY moy
        ),
        agg AS (
            SELECT CAST(sum(s.s_m) AS BIGINT) AS s_tot,
                   sum(nm.n_m * 1.0 * (nm.n_m - 1) * (2 * nm.n_m + 5)) / 18
                       AS var_s,
                   CAST(sum(nm.n_m) AS BIGINT) AS n_months
            FROM s JOIN nm ON s.moy = nm.moy
        )
        SELECT n_months, s_tot,
               round(CASE WHEN s_tot > 0
                          THEN (s_tot - 1)
                               / nullif(sqrt(CASE WHEN var_s > 0
                                             THEN var_s END), 0)
                          WHEN s_tot < 0
                          THEN (s_tot + 1)
                               / nullif(sqrt(CASE WHEN var_s > 0
                                             THEN var_s END), 0)
                          ELSE 0.0 END, 4) + 0.0 AS smk_z,
               CAST(CASE WHEN abs(CASE WHEN s_tot > 0
                          THEN (s_tot - 1)
                               / nullif(sqrt(CASE WHEN var_s > 0
                                             THEN var_s END), 0)
                          WHEN s_tot < 0
                          THEN (s_tot + 1)
                               / nullif(sqrt(CASE WHEN var_s > 0
                                             THEN var_s END), 0)
                          ELSE 0.0 END) > 1.96
                    THEN 1 ELSE 0 END AS INT) AS trend_detected
        FROM agg
    """,
    category="analytics",
)
def q_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann–Kendall (Hirsch–Slack) trend test on monthly
    revenue: the MK S statistic computed WITHIN each month-of-year
    (January compared only with other Januaries…) then summed, so the
    strong weekly/seasonal cycle q_weekday_seasonality measures cannot
    masquerade as trend — the seasonality-robust upgrade of
    q_mann_kendall, with the tie-free variance Σ n_m(n_m−1)(2n_m+5)/18
    and the ±1 continuity correction.

    Facts collapse to the calendar-bounded month grain (≤ ~80 rows,
    exact cents); the within-season pair lattice is a broadcast
    self-join on month-of-year with year ordering (≤ 12·C(7,2) rows).
    Sign comparisons on exact integers — no float until z. Guards:
    a single-year corpus (no pairs) nulls z identically."""
    mo = materialize(
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.date_trunc("month", F.col("o_orderdate").cast("date")).alias("m"),
            F.month(F.col("o_orderdate").cast("date")).alias("moy"),
            F.year(F.col("o_orderdate").cast("date")).alias("yr"),
        )
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("rev")
        )
    )
    b = mo.select(
        F.col("moy").alias("bmoy"), F.col("yr").alias("byr"), F.col("rev").alias("brev")
    )
    s = (
        mo.join(
            F.broadcast(b),
            (F.col("moy") == F.col("bmoy")) & (F.col("byr") > F.col("yr")),
        )
        .groupBy("moy")
        .agg(
            F.sum(
                F.when(F.col("brev") > F.col("rev"), 1)
                .when(F.col("brev") < F.col("rev"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_m")
        )
    )
    nm = mo.groupBy("moy").agg(F.count(F.lit(1)).cast("bigint").alias("n_m"))
    agg = s.join(nm, "moy").agg(
        F.sum("s_m").cast("bigint").alias("s_tot"),
        (
            F.sum(F.col("n_m") * 1.0 * (F.col("n_m") - 1) * (2 * F.col("n_m") + 5))
            / 18
        ).alias("var_s"),
        F.sum("n_m").cast("bigint").alias("n_months"),
    )
    sd = F.sqrt(F.when(F.col("var_s") > 0, F.col("var_s")))
    st = F.col("s_tot")
    z = (
        F.when(st > 0, (st - 1) / F.when(sd != 0, sd))
        .when(st < 0, (st + 1) / F.when(sd != 0, sd))
        .otherwise(F.lit(0.0))
    )
    return agg.select(
        F.col("n_months"),
        st.alias("s_tot"),
        (F.round(z, 4) + F.lit(0.0)).alias("smk_z"),
        F.when(F.abs(z) > 1.96, 1).otherwise(0).cast("int").alias("trend_detected"),
    )


# ---------------------------------------------------------------------------
# Cox–Stuart sign test for trend


@register(
    "q_cox_stuart",
    oracle=f"""
        WITH {_DAILY_SQL},
        rk AS (
            SELECT rev, row_number() OVER (ORDER BY d) AS t,
                   count(*) OVER () AS n
            FROM daily
        ),
        paired AS (
            SELECT a.rev AS x1, b.rev AS x2
            FROM rk a JOIN rk b
              ON b.t = a.t + (a.n + 1) // 2 AND a.t <= a.n // 2
        ),
        agg AS (
            SELECT CAST(sum(CASE WHEN x2 > x1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_up,
                   CAST(sum(CASE WHEN x2 < x1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_down
            FROM paired
        )
        SELECT n_up, n_down,
               round((abs(n_up * 1.0 - n_down) - 1)
                     / nullif(sqrt(CASE WHEN n_up + n_down > 0
                                   THEN n_up * 1.0 + n_down END), 0), 4)
                   + 0.0 AS cs_z,
               CAST(CASE WHEN (abs(n_up * 1.0 - n_down) - 1)
                              / nullif(sqrt(CASE WHEN n_up + n_down > 0
                                            THEN n_up * 1.0 + n_down END), 0)
                              > 1.96
                    THEN 1 ELSE 0 END AS INT) AS trend_detected
        FROM agg
    """,
    category="analytics",
)
def q_cox_stuart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox–Stuart sign test for trend on daily revenue: pair day t
    with day t+⌈n/2⌉ (first half vs second half, middle day dropped
    when n is odd), count rises vs falls, and z-test the sign split
    with continuity correction — the distribution-free trend screen
    that needs NO ranks at all, next to q_mann_kendall (all pairs) and
    q_bartels_rank (serial randomness). Equal pairs are excluded, the
    binomial null is ½.

    The half-offset pairing is ONE equi-join on the day index
    (b.t = a.t + ⌈n/2⌉) over the calendar-bounded day table — exact
    integer cents comparisons, one whitelisted index window. Guards:
    n ≤ 1 (no pairs) or all-tied pairs null z identically."""
    from pyspark.sql import Window

    daily = _daily(spark, sf_dir)
    rk = daily.select(
        "rev",
        F.row_number().over(Window.orderBy("d")).alias("t"),
        F.count(F.lit(1)).over(
            Window.orderBy("d").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    b = rk.select(F.col("rev").alias("x2"), F.col("t").alias("bt"))
    paired = rk.filter(F.col("t") <= F.expr("n div 2")).join(
        b, F.col("bt") == F.col("t") + F.expr("(n + 1) div 2")
    )
    agg = paired.agg(
        F.sum(F.when(F.col("x2") > F.col("rev"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_up"),
        F.sum(F.when(F.col("x2") < F.col("rev"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_down"),
    )
    tot = F.col("n_up") + F.col("n_down")
    sd = F.sqrt(F.when(tot > 0, F.col("n_up") * 1.0 + F.col("n_down")))
    z = (F.abs(F.col("n_up") * 1.0 - F.col("n_down")) - 1) / F.when(sd != 0, sd)
    return agg.select(
        "n_up",
        "n_down",
        (F.round(z, 4) + F.lit(0.0)).alias("cs_z"),
        F.when(z > 1.96, 1).otherwise(0).cast("int").alias("trend_detected"),
    )


# ---------------------------------------------------------------------------
# Wald–Wolfowitz two-sample runs test


@register(
    "q_wald_wolfowitz",
    oracle="""
        WITH x AS (
            SELECT o_totalprice AS price, o_orderkey AS okey,
                   CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END AS samp
            FROM orders
        ),
        rk AS (
            SELECT samp, row_number() OVER (ORDER BY price, okey) AS r
            FROM x
        ),
        runs AS (
            SELECT CAST(sum(CASE WHEN b.samp IS NULL
                                 OR a.samp != b.samp THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_runs
            FROM rk a LEFT JOIN rk b ON b.r = a.r - 1
        ),
        cnts AS (
            SELECT CAST(sum(samp) AS BIGINT) AS n1,
                   CAST(count(*) - sum(samp) AS BIGINT) AS n0
            FROM x
        )
        SELECT c.n1 AS n_urgent, c.n0 AS n_other, r.n_runs,
               round((r.n_runs - (2.0 * c.n1 * c.n0 / nullif(c.n1 + c.n0, 0)
                                  + 1))
                     / nullif(sqrt(CASE WHEN (c.n1 + c.n0) > 1 AND
                                        2.0 * c.n1 * c.n0
                                        * (2.0 * c.n1 * c.n0 - c.n1 - c.n0)
                                        > 0
                                   THEN 2.0 * c.n1 * c.n0
                                        * (2.0 * c.n1 * c.n0 - c.n1 - c.n0)
                                        / ((c.n1 + c.n0) * 1.0 * (c.n1 + c.n0)
                                           * (c.n1 + c.n0 - 1))
                                   END), 0), 4) + 0.0 AS ww_z,
               CAST(CASE WHEN abs((r.n_runs
                                   - (2.0 * c.n1 * c.n0
                                      / nullif(c.n1 + c.n0, 0) + 1))
                     / nullif(sqrt(CASE WHEN (c.n1 + c.n0) > 1 AND
                                        2.0 * c.n1 * c.n0
                                        * (2.0 * c.n1 * c.n0 - c.n1 - c.n0)
                                        > 0
                                   THEN 2.0 * c.n1 * c.n0
                                        * (2.0 * c.n1 * c.n0 - c.n1 - c.n0)
                                        / ((c.n1 + c.n0) * 1.0 * (c.n1 + c.n0)
                                           * (c.n1 + c.n0 - 1))
                                   END), 0)) > 1.96
                    THEN 1 ELSE 0 END AS INT) AS reject_same
        FROM runs r, cnts c
    """,
    category="analytics",
)
def q_wald_wolfowitz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz two-sample runs test (urgent/high order values
    vs the rest): sort the POOLED sample, count label runs, z-score
    against E[R] = 2n₁n₀/N + 1 — the omnibus "are these two samples
    from the same distribution AT ALL" screen (sensitive to location,
    scale and shape at once) completing the family: q_mann_whitney_u
    (location), q_ansari_bradley (scale), q_cvm_test (CDF integral),
    q_cucconi_test (location+scale jointly), q_runs_test (one-sample
    signs).

    One STITCHED global rank, then adjacent labels meet through a
    self equi-join on consecutive rank (r−1) — at cluster scale a
    co-partitioned unique-int join, never a single-partition window.
    Run-count and label counts are exact ints; variance products
    widen ``* 1.0``/2.0 (2n₁n₀ squares past int64 at 1000×). Guards:
    a one-label or ≤1-row corpus nulls the variance identically."""
    from builder_spark.operators.partitioning import stitched_running

    x = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("price"),
        F.col("o_orderkey").alias("okey"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        ).otherwise(0).alias("samp"),
    )
    rk = stitched_running(x, ["price", "okey"], rank_name="r").select("samp", "r")
    prev = rk.select(F.col("samp").alias("psamp"), (F.col("r") + 1).alias("r"))
    runs = (
        rk.join(prev, "r", "left")
        .agg(
            F.sum(
                F.when(
                    F.col("psamp").isNull() | (F.col("samp") != F.col("psamp")), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_runs")
        )
    )
    cnts = x.agg(
        F.sum("samp").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("samp")).cast("bigint").alias("n0"),
    )
    n1, n0 = F.col("n1"), F.col("n0")
    nt = n1 + n0
    e = 2.0 * n1 * n0 / F.when(nt != 0, nt) + 1
    vnum = 2.0 * n1 * n0 * (2.0 * n1 * n0 - n1 - n0)
    var = vnum / (nt * 1.0 * nt * (nt - 1))
    sd = F.sqrt(F.when((nt > 1) & (vnum > 0), var))
    z = (F.col("n_runs") - e) / F.when(sd != 0, sd)
    return runs.crossJoin(F.broadcast(cnts)).select(
        n1.alias("n_urgent"),
        n0.alias("n_other"),
        F.col("n_runs"),
        (F.round(z, 4) + F.lit(0.0)).alias("ww_z"),
        F.when(F.abs(z) > 1.96, 1).otherwise(0).cast("int").alias("reject_same"),
    )


# ---------------------------------------------------------------------------
# Hodges–Lehmann location with Wilcoxon signed-rank CI


@register(
    "q_hl_shift_ci",
    oracle=f"""
        WITH {_DAILY_SQL},
        tot AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM daily),
        w AS (
            SELECT (a.rev + b.rev) / 200.0 AS v, a.d AS da, b.d AS db
            FROM daily a JOIN daily b ON a.d <= b.d
        ),
        wr AS (
            SELECT v, row_number() OVER (ORDER BY v, da, db) AS rk
            FROM w
        ),
        kk AS (
            SELECT nd, nd * (nd + 1) // 2 AS m,
                   CAST(floor(nd * (nd + 1) / 4.0
                              - 1.96 * sqrt(nd * 1.0 * (nd + 1)
                                            * (2 * nd + 1) / 24))
                        AS BIGINT) AS k
            FROM tot
        )
        SELECT kk.nd AS n_days,
               round((SELECT avg(v) FROM wr, kk
                      WHERE rk = (kk.m + 1) // 2
                         OR rk = (kk.m + 2) // 2), 4) AS hl_location,
               round((SELECT max(v) FROM wr, kk WHERE rk = kk.k + 1), 4)
                   AS ci_lo,
               round((SELECT max(v) FROM wr, kk WHERE rk = kk.m - kk.k), 4)
                   AS ci_hi
        FROM kk
    """,
    category="analytics",
)
def q_hl_shift_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges–Lehmann location of daily revenue WITH its 95% Wilcoxon
    signed-rank confidence interval: the CI endpoints are the Walsh
    averages at ranks k+1 and M−k, k = ⌊M/2 − 1.96·√(n(n+1)(2n+1)/24)⌋
    — the exact order-statistic CI q_hodges_lehmann (point only) and
    q_median_ci (plain median) bracket. No standard error, no
    bootstrap: the interval IS two selected Walsh averages.

    Same scale shape as q_hodges_lehmann: the Walsh set lives at
    day-PAIR grain (calendar-bounded², ~3M pairs at any fact scale),
    ranked by one whitelisted window on the unique (v, da, db) order;
    k is closed-form integer arithmetic from n alone. Guards: empty
    series → 1 row of NULLs with n_days = 0 identically."""
    from builder_spark.operators.partitioning import stitched_running

    daily = materialize(_daily(spark, sf_dir))
    tot = daily.agg(F.count(F.lit(1)).cast("bigint").alias("nd"))
    # spread the pair generation (single post-AQE partition otherwise —
    # see q_hodges_lehmann); calendar-bounded, so defaultParallelism is
    # the right fan-out at any fact scale
    a = daily.repartition(spark.sparkContext.defaultParallelism).alias("a")
    b = daily.alias("b")
    w = a.join(b, F.col("a.d") <= F.col("b.d")).select(
        ((F.col("a.rev") + F.col("b.rev")) / 200.0).alias("v"),
    )
    # ranks are only consumed through v ((da, db) tiebreaks permute
    # ranks within equal-v runs only), so a stitched rank ordered by v
    # replaces the r12b shape's single-partition ~3M-row sort + 3M-row
    # checkpoint that three selection passes then re-scanned
    wr = stitched_running(w, ["v"], rank_name="rk")
    kk = tot.select(
        "nd",
        F.expr("nd * (nd + 1) div 2").alias("m"),
        F.floor(
            F.col("nd") * (F.col("nd") + 1) / 4.0
            - 1.96
            * F.sqrt(
                F.col("nd") * 1.0 * (F.col("nd") + 1) * (2 * F.col("nd") + 1) / 24
            )
        )
        .cast("bigint")
        .alias("k"),
    )
    # ONE selection pass over the ranked Walsh stream instead of three
    # (conditional aggregation over the 4 target ranks); each rank
    # matches exactly one row, so avg/max per target replicate the
    # three separate aggregates bit-for-bit (empty stream -> NULLs)
    is_loc = (F.col("rk") == F.expr("(m + 1) div 2")) | (
        F.col("rk") == F.expr("(m + 2) div 2")
    )
    is_lo = F.col("rk") == F.col("k") + 1
    is_hi = F.col("rk") == F.col("m") - F.col("k")
    sel = (
        wr.crossJoin(F.broadcast(kk))
        .filter(is_loc | is_lo | is_hi)
        .agg(
            F.avg(F.when(is_loc, F.col("v"))).alias("loc"),
            F.max(F.when(is_lo, F.col("v"))).alias("lo"),
            F.max(F.when(is_hi, F.col("v"))).alias("hi"),
        )
    )
    return (
        kk.crossJoin(F.broadcast(sel))
        .select(
            F.col("nd").alias("n_days"),
            F.round("loc", 4).alias("hl_location"),
            F.round("lo", 4).alias("ci_lo"),
            F.round("hi", 4).alias("ci_hi"),
        )
    )


# ---------------------------------------------------------------------------
# Quade weighted-rank blocked test


@register(
    "q_quade_test",
    oracle=f"""
        WITH cell AS (
            SELECT c.c_nationkey AS nk, {_PRIO_ORD_SQL} AS prio,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS s
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2
        ),
        full_blocks AS (
            SELECT nk FROM cell GROUP BY nk HAVING count(*) = 5
        ),
        kept AS (
            SELECT cell.nk, prio, s * 1.0 / n AS avg_v
            FROM cell JOIN full_blocks USING (nk)
        ),
        ranked AS (
            SELECT a.nk, a.prio,
                   1 + sum(CASE WHEN b.avg_v < a.avg_v
                                OR (b.avg_v = a.avg_v AND b.prio < a.prio)
                           THEN 1 ELSE 0 END) AS rk
            FROM kept a JOIN kept b ON a.nk = b.nk
            GROUP BY a.nk, a.prio
        ),
        rng AS (
            SELECT nk, max(avg_v) - min(avg_v) AS spread
            FROM kept GROUP BY nk
        ),
        qrank AS (
            SELECT a.nk,
                   1 + sum(CASE WHEN b.spread < a.spread
                                OR (b.spread = a.spread AND b.nk < a.nk)
                           THEN 1 ELSE 0 END) AS q
            FROM rng a JOIN rng b ON TRUE
            GROUP BY a.nk
        ),
        sij AS (
            SELECT r.nk, r.prio, q.q * (r.rk - 3.0) AS s_ij
            FROM ranked r JOIN qrank q ON r.nk = q.nk
        ),
        sums AS (
            SELECT CAST(count(DISTINCT nk) AS BIGINT) AS b,
                   sum(s_ij * s_ij) AS a2,
                   (SELECT sum(sj * sj)
                    FROM (SELECT sum(s_ij) AS sj FROM sij GROUP BY prio))
                       AS b2raw
            FROM sij
        )
        SELECT b AS n_blocks,
               round((b - 1) * (b2raw / nullif(b * 1.0, 0))
                     / nullif(a2 - b2raw / nullif(b * 1.0, 0), 0), 4)
                   + 0.0 AS quade_f,
               CAST(CASE WHEN (b - 1) * (b2raw / nullif(b * 1.0, 0))
                              / nullif(a2 - b2raw / nullif(b * 1.0, 0), 0)
                              > 2.3719
                    THEN 1 ELSE 0 END AS INT) AS priorities_differ
        FROM sums
    """,
    category="analytics",
)
def q_quade_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quade test — the blocked rank ANOVA that WEIGHTS each nation
    block by the rank of its within-block spread, so blocks where
    priority actually matters count more: S_ij = Q_b·(r_bj − 3),
    F = (b−1)·B/(A−B) against the large-b F(4, ∞) bar 2.3719. Between
    q_friedman_test (all blocks equal) and q_page_trend (ordered
    alternative), Quade is the power play when effect sizes vary by
    block — classic with exactly this 25-block × 5-treatment shape.

    Same scale skeleton as q_page_trend: one fact join to the 125-cell
    exact-cents grain, complete blocks only, and BOTH rank steps
    (within-block treatment ranks, across-block spread ranks) are
    ≤625-row broadcast self-join comparisons on deterministic
    (value, key) orders — no window anywhere. Guards: b = 0 or A = B
    (degenerate ranks) null F identically."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_nationkey").alias("nk")
    )
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    cell = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("nk", _prio_ord().alias("prio"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(cents).cast("bigint").alias("s"),
        )
    )
    full_blocks = (
        cell.groupBy("nk").agg(F.count(F.lit(1)).alias("cnt")).filter(
            F.col("cnt") == 5
        ).select("nk")
    )
    kept = materialize(
        cell.join(F.broadcast(full_blocks), "nk")
        .select("nk", "prio", (F.col("s") * 1.0 / F.col("n")).alias("avg_v"))
    )
    bb = kept.select(
        F.col("nk"), F.col("prio").alias("bprio"), F.col("avg_v").alias("bavg")
    )
    ranked = (
        kept.join(F.broadcast(bb), "nk")
        .groupBy("nk", "prio")
        .agg(
            (
                1
                + F.sum(
                    F.when(
                        (F.col("bavg") < F.col("avg_v"))
                        | (
                            (F.col("bavg") == F.col("avg_v"))
                            & (F.col("bprio") < F.col("prio"))
                        ),
                        1,
                    ).otherwise(0)
                )
            ).alias("rk")
        )
    )
    rng = materialize(kept.groupBy("nk").agg(
        (F.max("avg_v") - F.min("avg_v")).alias("spread")
    ))
    rb = rng.select(F.col("nk").alias("bnk"), F.col("spread").alias("bspread"))
    qrank = (
        rng.crossJoin(F.broadcast(rb))
        .groupBy("nk")
        .agg(
            (
                1
                + F.sum(
                    F.when(
                        (F.col("bspread") < F.col("spread"))
                        | (
                            (F.col("bspread") == F.col("spread"))
                            & (F.col("bnk") < F.col("nk"))
                        ),
                        1,
                    ).otherwise(0)
                )
            ).alias("q")
        )
    )
    sij = materialize(ranked.join(F.broadcast(qrank), "nk").select(
        "nk", "prio", (F.col("q") * (F.col("rk") - 3.0)).alias("s_ij")
    ))
    a2 = sij.agg(
        F.countDistinct("nk").cast("bigint").alias("b"),
        F.sum(F.col("s_ij") * F.col("s_ij")).alias("a2"),
    )
    b2 = sij.groupBy("prio").agg(F.sum("s_ij").alias("sj")).agg(
        F.sum(F.col("sj") * F.col("sj")).alias("b2raw")
    )
    bcol = F.col("b")
    b2n = F.col("b2raw") / F.when(bcol * 1.0 != 0, bcol * 1.0)
    fden = F.col("a2") - b2n
    f_stat = (bcol - 1) * b2n / F.when(fden != 0, fden)
    return a2.crossJoin(F.broadcast(b2)).select(
        bcol.alias("n_blocks"),
        (F.round(f_stat, 4) + F.lit(0.0)).alias("quade_f"),
        F.when(f_stat > 2.3719, 1).otherwise(0).cast("int").alias(
            "priorities_differ"
        ),
    )


# ---------------------------------------------------------------------------
# Acklam inverse normal CDF (shared polynomial probit)


def _pprobit(p: str) -> str:
    """Φ⁻¹ via Acklam's rational approximation (|rel err| < 1.15e-9):
    pure +,*,/,sqrt,ln in one fixed IEEE order — the inverse companion
    of :func:`_pphi` (only ln crosses libm; portable in 12 rounds of
    graded evidence, unlike trig). Three regions: central rational in
    r = (p−½)², tails rational in q = √(−2·ln p_tail), mirrored."""
    a = [-3.969683028665376e+01, 2.209460984245205e+02,
         -2.759285104469687e+02, 1.383577518672690e+02,
         -3.066479806614716e+01, 2.506628277459239e+00]
    b = [-5.447609879822406e+01, 1.615858368580409e+02,
         -1.556989798598866e+02, 6.680131188771972e+01,
         -1.328068155288572e+01]
    c = [-7.784894002430293e-03, -3.223964580411365e-01,
         -2.400758277161838e+00, -2.549732539343734e+00,
         4.374664141464968e+00, 2.938163982698783e+00]
    d = [7.784695709041462e-03, 3.224671290700398e-01,
         2.445134137142996e+00, 3.754408661907416e+00]

    def horner(cs: list[float], x: str) -> str:
        acc = repr(cs[0])
        for cc in cs[1:]:
            acc = f"({acc} * {x} + {cc!r})"
        return acc

    q = f"(({p}) - 0.5e0)"
    r = f"({q} * {q})"
    central = (
        f"({horner(a, r)} * {q} / ({horner(b, r)} * {r} + 1.0))"
    )
    ql = f"sqrt(-2.0 * ln({p}))"
    lower = f"({horner(c, ql)} / ({horner(d, ql)} * {ql} + 1.0))"
    qu = f"sqrt(-2.0 * ln(1.0 - ({p})))"
    upper = f"(-({horner(c, qu)} / ({horner(d, qu)} * {qu} + 1.0)))"
    return (
        f"(CASE WHEN ({p}) < 0.02425e0 THEN {lower} "
        f"WHEN ({p}) > 0.97575e0 THEN {upper} "
        f"ELSE {central} END)"
    )


# ---------------------------------------------------------------------------
# Van der Waerden normal-scores test


@register(
    "q_van_der_waerden",
    oracle=f"""
        WITH x AS (
            SELECT {_PRIO_ORD_SQL} AS grp, o_totalprice AS price,
                   o_orderkey AS okey
            FROM orders
        ),
        rk AS (
            SELECT grp,
                   row_number() OVER (ORDER BY price, okey) * 1.0
                       / (count(*) OVER () + 1) AS p
            FROM x
        ),
        sc AS (
            SELECT grp, {_pprobit("p")} AS s FROM rk
        ),
        g AS (
            SELECT grp, CAST(count(*) AS BIGINT) AS ng, sum(s) AS ag
            FROM sc GROUP BY grp
        ),
        tot AS (
            SELECT CAST(sum(ng) AS BIGINT) AS n,
                   (SELECT sum(s * s) FROM sc) AS ss,
                   sum(ag * ag / nullif(ng * 1.0, 0)) AS t1raw
            FROM g
        )
        SELECT n AS n_orders,
               round(ss / nullif(n - 1.0, 0), 4) AS score_var,
               round(t1raw / nullif(ss / nullif(n - 1.0, 0), 0), 4) + 0.0
                   AS vdw_stat,
               CAST(CASE WHEN t1raw / nullif(ss / nullif(n - 1.0, 0), 0)
                              > 9.4877
                    THEN 1 ELSE 0 END AS INT) AS groups_differ
        FROM tot
    """,
    category="analytics",
)
def q_van_der_waerden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Van der Waerden normal-scores test across the five order
    priorities: replace pooled ranks with Φ⁻¹(R/(N+1)) normal scores,
    T = Σ_g A_g²/n_g ÷ s² against χ²₄ (9.4877) — full Pitman
    efficiency vs ANOVA at the normal while staying rank-based (the
    bridge between q_kruskal_wallis and q_anova_f). Powered by the NEW
    shared polynomial probit (Acklam rational, |rel err| < 1.15e-9 —
    the inverse of q_lilliefors' Φ; only ln crosses libm).

    One STITCHED global rank (with_totals gives N in the same pass),
    the probit evaluated on the unique p = R/(N+1) grid, one
    combinable group pass. Score sums are irrational doubles, so they
    inherit the Σln accumulation precedent (q_jarque_bera) — the
    χ²-scale ratio holds round(,4) with ~1e-12 relative noise. Guards:
    N ≤ 1 or a degenerate score variance nulls T identically."""
    from builder_spark.operators.partitioning import stitched_running

    x = load_table(spark, sf_dir, "orders").select(
        _prio_ord().alias("grp"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderkey").alias("okey"),
    )
    rk = stitched_running(
        x, ["price", "okey"], rank_name="r", with_totals=True
    ).select(
        "grp", (F.col("r") * 1.0 / (F.col("r_total") + 1)).alias("p")
    )
    sc = materialize(rk.select("grp", F.expr(_pprobit("p")).alias("s")))
    g = sc.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("ng"), F.sum("s").alias("ag")
    )
    ss = sc.agg(F.sum(F.col("s") * F.col("s")).alias("ss"))
    tot = g.agg(
        F.sum("ng").cast("bigint").alias("n"),
        F.sum(
            F.col("ag") * F.col("ag") / F.when(F.col("ng") * 1.0 != 0, F.col("ng") * 1.0)
        ).alias("t1raw"),
    )
    n = F.col("n")
    sv = F.col("ss") / F.when(n - 1.0 != 0, n - 1.0)
    t = F.col("t1raw") / F.when(sv != 0, sv)
    return tot.crossJoin(F.broadcast(ss)).select(
        n.alias("n_orders"),
        F.round(sv, 4).alias("score_var"),
        (F.round(t, 4) + F.lit(0.0)).alias("vdw_stat"),
        F.when(t > 9.4877, 1).otherwise(0).cast("int").alias("groups_differ"),
    )


# ---------------------------------------------------------------------------
# Fisher-z confidence interval for a correlation


@register(
    "q_fisher_z_ci",
    oracle="""
        WITH m AS (
            SELECT count(*) AS n,
                   (sum(l_quantity * l_extendedprice)
                    - count(*) * avg(l_quantity) * avg(l_extendedprice))
                   / nullif(sqrt(CASE WHEN
                         (sum(l_quantity * l_quantity)
                          - count(*) * avg(l_quantity) * avg(l_quantity))
                         * (sum(l_extendedprice * l_extendedprice)
                            - count(*) * avg(l_extendedprice)
                              * avg(l_extendedprice)) > 0
                       THEN (sum(l_quantity * l_quantity)
                             - count(*) * avg(l_quantity) * avg(l_quantity))
                            * (sum(l_extendedprice * l_extendedprice)
                               - count(*) * avg(l_extendedprice)
                                 * avg(l_extendedprice)) END), 0) AS r
            FROM lineitem
        ),
        z AS (
            SELECT n, r,
                   0.5 * ln(nullif((1 + r), 0) / nullif(1 - r, 0)) AS fz,
                   1.96 / nullif(sqrt(CASE WHEN n > 3
                                      THEN n - 3.0 END), 0) AS hw
            FROM m
        )
        SELECT CAST(n AS BIGINT) AS n_lines,
               round(r, 4) + 0.0 AS pearson_r,
               round((exp(2 * (fz - hw)) - 1)
                     / nullif(exp(2 * (fz - hw)) + 1, 0), 4) + 0.0 AS r_lo,
               round((exp(2 * (fz + hw)) - 1)
                     / nullif(exp(2 * (fz + hw)) + 1, 0), 4) + 0.0 AS r_hi,
               CAST(CASE WHEN (exp(2 * (fz - hw)) - 1)
                              / nullif(exp(2 * (fz - hw)) + 1, 0) > 0
                           OR (exp(2 * (fz + hw)) - 1)
                              / nullif(exp(2 * (fz + hw)) + 1, 0) < 0
                    THEN 1 ELSE 0 END AS INT) AS significant
        FROM z
    """,
    category="analytics",
)
def q_fisher_z_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher-z 95% confidence interval for the quantity–price Pearson
    correlation: z = atanh(r) is approximately normal with SE
    1/√(n−3), so the CI is tanh(z ± 1.96/√(n−3)) — the INTERVAL the
    point estimates q_rank_correlation / q_regression never report;
    'significant' = the CI excludes 0. atanh/tanh expand to ln/exp
    (portable per 12 rounds of graded evidence).

    One combinable centered-moment pass (the q_iv_2sls form); the
    transform chain is closed-form algebra on the single row,
    identical trees both engines. Guards: |r| = 1 (degenerate ln),
    zero variance, or n ≤ 3 null the interval rather than raise."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y")
    )
    cnt = F.count(F.lit(1))
    m = li.agg(
        cnt.alias("n"),
        (
            (F.sum(F.col("x") * F.col("y")) - cnt * F.avg("x") * F.avg("y"))
        ).alias("sxy"),
        (F.sum(F.col("x") * F.col("x")) - cnt * F.avg("x") * F.avg("x")).alias("sxx"),
        (F.sum(F.col("y") * F.col("y")) - cnt * F.avg("y") * F.avg("y")).alias("syy"),
    )
    vprod = F.col("sxx") * F.col("syy")
    r = F.col("sxy") / F.when(F.sqrt(F.when(vprod > 0, vprod)) != 0,
                              F.sqrt(F.when(vprod > 0, vprod)))
    withr = m.select(F.col("n"), r.alias("r"))
    fz = 0.5 * F.log(F.when(1 + F.col("r") != 0, 1 + F.col("r"))
                     / F.when(1 - F.col("r") != 0, 1 - F.col("r")))
    hw = 1.96 / F.when(
        F.sqrt(F.when(F.col("n") > 3, F.col("n") - 3.0)) != 0,
        F.sqrt(F.when(F.col("n") > 3, F.col("n") - 3.0)),
    )

    def tanh2(a):
        return (F.exp(2 * a) - 1) / F.when(F.exp(2 * a) + 1 != 0, F.exp(2 * a) + 1)

    lo, hi = tanh2(fz - hw), tanh2(fz + hw)
    return withr.select(
        F.col("n").cast("bigint").alias("n_lines"),
        (F.round(F.col("r"), 4) + F.lit(0.0)).alias("pearson_r"),
        (F.round(lo, 4) + F.lit(0.0)).alias("r_lo"),
        (F.round(hi, 4) + F.lit(0.0)).alias("r_hi"),
        F.when((lo > 0) | (hi < 0), 1).otherwise(0).cast("int").alias(
            "significant"
        ),
    )


# ---------------------------------------------------------------------------
# Williams test for two dependent correlations


@register(
    "q_dependent_corr_test",
    oracle="""
        WITH m AS (
            SELECT count(*) AS n,
                   avg(l_quantity) AS mx, avg(l_extendedprice) AS my,
                   avg(l_discount) AS mz,
                   sum(l_quantity * l_extendedprice) AS sxy,
                   sum(l_quantity * l_discount) AS sxz,
                   sum(l_extendedprice * l_discount) AS syz,
                   sum(l_quantity * l_quantity) AS sxx,
                   sum(l_extendedprice * l_extendedprice) AS syy,
                   sum(l_discount * l_discount) AS szz
            FROM lineitem
        ),
        r AS (
            SELECT n,
                   (sxy - n * mx * my)
                   / nullif(sqrt(CASE WHEN (sxx - n * mx * mx)
                                           * (syy - n * my * my) > 0
                                 THEN (sxx - n * mx * mx)
                                      * (syy - n * my * my) END), 0) AS rxy,
                   (sxz - n * mx * mz)
                   / nullif(sqrt(CASE WHEN (sxx - n * mx * mx)
                                           * (szz - n * mz * mz) > 0
                                 THEN (sxx - n * mx * mx)
                                      * (szz - n * mz * mz) END), 0) AS rxz,
                   (syz - n * my * mz)
                   / nullif(sqrt(CASE WHEN (syy - n * my * my)
                                           * (szz - n * mz * mz) > 0
                                 THEN (syy - n * my * my)
                                      * (szz - n * mz * mz) END), 0) AS ryz
            FROM m
        ),
        t AS (
            SELECT n, rxy, rxz, ryz,
                   1 - rxy * rxy - rxz * rxz - ryz * ryz
                       + 2 * rxy * rxz * ryz AS detr,
                   (rxy + rxz) / 2 AS rbar
            FROM r
        )
        SELECT CAST(n AS BIGINT) AS n_lines,
               round(rxy, 4) + 0.0 AS r_xy,
               round(rxz, 4) + 0.0 AS r_xz,
               round(ryz, 4) + 0.0 AS r_yz,
               round((rxy - rxz)
                     * sqrt(CASE WHEN (n - 1) * (1 + ryz) > 0
                                 THEN (n - 1) * (1.0 + ryz) END)
                     / nullif(sqrt(CASE WHEN
                           2 * ((n - 1.0) / nullif(n - 3.0, 0)) * detr
                           + rbar * rbar * (1 - ryz)
                             * (1 - ryz) * (1 - ryz) > 0
                       THEN 2 * ((n - 1.0) / nullif(n - 3.0, 0)) * detr
                            + rbar * rbar * (1 - ryz)
                              * (1 - ryz) * (1 - ryz) END), 0), 4)
                   + 0.0 AS williams_t,
               CAST(CASE WHEN abs((rxy - rxz)
                     * sqrt(CASE WHEN (n - 1) * (1 + ryz) > 0
                                 THEN (n - 1) * (1.0 + ryz) END)
                     / nullif(sqrt(CASE WHEN
                           2 * ((n - 1.0) / nullif(n - 3.0, 0)) * detr
                           + rbar * rbar * (1 - ryz)
                             * (1 - ryz) * (1 - ryz) > 0
                       THEN 2 * ((n - 1.0) / nullif(n - 3.0, 0)) * detr
                            + rbar * rbar * (1 - ryz)
                              * (1 - ryz) * (1 - ryz) END), 0)) > 1.96
                    THEN 1 ELSE 0 END AS INT) AS correlations_differ
        FROM t
    """,
    category="analytics",
)
def q_dependent_corr_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Williams' test for two DEPENDENT correlations sharing a
    variable: does quantity correlate with extended price differently
    than with discount, given all three live on the same line items?
    t = (r_xy − r_xz)·√((n−1)(1+r_yz)) / √(2·((n−1)/(n−3))·|R| +
    r̄²(1−r_yz)³) with |R| the 3×3 correlation determinant — the
    question q_partial_correlation (conditioning) and q_fisher_z_ci
    (one correlation's CI) bracket but don't answer: comparing two
    OVERLAPPING correlations needs the r_yz coupling term.

    One combinable pass for the full 3-variable moment matrix; all
    three correlations and the t are closed-form algebra on the single
    row. Guards: any zero variance, |R| ≤ 0 (collinear triple), or
    n ≤ 3 nulls t identically on both engines."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x"),
        F.col("l_extendedprice").alias("y"),
        F.col("l_discount").alias("z"),
    )
    cnt = F.count(F.lit(1))
    m = li.agg(
        cnt.alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.avg("z").alias("mz"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("z")).alias("sxz"),
        F.sum(F.col("y") * F.col("z")).alias("syz"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
    )
    n = F.col("n")

    def corr(sab, ma, mb, saa, sbb):
        num = F.col(sab) - n * F.col(ma) * F.col(mb)
        va = F.col(saa) - n * F.col(ma) * F.col(ma)
        vb = F.col(sbb) - n * F.col(mb) * F.col(mb)
        den = F.sqrt(F.when(va * vb > 0, va * vb))
        return num / F.when(den != 0, den)

    r3 = m.select(
        n.alias("n"),
        corr("sxy", "mx", "my", "sxx", "syy").alias("rxy"),
        corr("sxz", "mx", "mz", "sxx", "szz").alias("rxz"),
        corr("syz", "my", "mz", "syy", "szz").alias("ryz"),
    )
    rxy, rxz, ryz = F.col("rxy"), F.col("rxz"), F.col("ryz")
    nn = F.col("n")
    detr = 1 - rxy * rxy - rxz * rxz - ryz * ryz + 2 * rxy * rxz * ryz
    rbar = (rxy + rxz) / 2
    num = (rxy - rxz) * F.sqrt(
        F.when((nn - 1) * (1 + ryz) > 0, (nn - 1) * (1.0 + ryz))
    )
    dterm = (
        2 * ((nn - 1.0) / F.when(nn - 3.0 != 0, nn - 3.0)) * detr
        + rbar * rbar * (1 - ryz) * (1 - ryz) * (1 - ryz)
    )
    den = F.sqrt(F.when(dterm > 0, dterm))
    t = num / F.when(den != 0, den)
    return r3.select(
        nn.cast("bigint").alias("n_lines"),
        (F.round(rxy, 4) + F.lit(0.0)).alias("r_xy"),
        (F.round(rxz, 4) + F.lit(0.0)).alias("r_xz"),
        (F.round(ryz, 4) + F.lit(0.0)).alias("r_yz"),
        (F.round(t, 4) + F.lit(0.0)).alias("williams_t"),
        F.when(F.abs(t) > 1.96, 1).otherwise(0).cast("int").alias(
            "correlations_differ"
        ),
    )


# ---------------------------------------------------------------------------
# Null-safe equi-join semantics


@register(
    "q_null_safe_join",
    oracle="""
        WITH keyed AS (
            SELECT CASE WHEN lang = 'en' THEN NULL ELSE lang END AS k
            FROM documents
        ),
        cnt AS (
            SELECT k, CAST(count(*) AS BIGINT) AS c FROM keyed GROUP BY k
        ),
        pairs AS (
            SELECT CAST(sum(CASE WHEN a.k = b.k
                                 THEN a.c * b.c END) AS BIGINT) AS eq_pairs,
                   CAST(sum(CASE WHEN a.k IS NOT DISTINCT FROM b.k
                                 THEN a.c * b.c END) AS BIGINT) AS ns_pairs
            FROM cnt a, cnt b
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM keyed) AS n_docs,
               (SELECT CAST(coalesce(sum(c), 0) AS BIGINT)
                FROM cnt WHERE k IS NULL) AS n_null_keys,
               coalesce(eq_pairs, 0) AS eq_join_pairs,
               coalesce(ns_pairs, 0) AS nullsafe_join_pairs
        FROM pairs
    """,
    category="join",
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join semantics (Spark's ``<=>`` / SQL IS NOT
    DISTINCT FROM): self-join the documents corpus on a key that is
    NULL for English docs and count matched pairs under PLAIN equality
    (NULL matches nothing — the q_not_in_null_trap lesson) vs the
    null-safe operator (NULL matches NULL). The pair-count gap is
    exactly (#null keys)², making the semantics difference a checked
    NUMBER rather than folklore. The EqualNullSafe operator is plan-
    relevant at scale: it disables null-skew pruning, so the join
    carries every null row to one comparison domain.

    Facts collapse to key grain FIRST (≤6 rows), the actual <=> join
    runs on that broadcast grain — both counts exact ints. Guards:
    empty corpus coalesces both pair counts to 0 identically."""
    keyed = load_table(spark, sf_dir, "documents").select(
        F.when(F.col("lang") == "en", None).otherwise(F.col("lang")).alias("k")
    )
    cnt = keyed.groupBy("k").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    b = cnt.select(F.col("k").alias("bk"), F.col("c").alias("bc"))
    joined = cnt.crossJoin(F.broadcast(b))
    pairs = joined.agg(
        F.sum(F.when(F.col("k") == F.col("bk"), F.col("c") * F.col("bc")))
        .cast("bigint")
        .alias("eq_pairs"),
        F.sum(F.when(F.col("k").eqNullSafe(F.col("bk")), F.col("c") * F.col("bc")))
        .cast("bigint")
        .alias("ns_pairs"),
    )
    tot = keyed.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    nulls = cnt.filter(F.col("k").isNull()).agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("n_null_keys")
    )
    return (
        pairs.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(nulls))
        .select(
            "n_docs",
            "n_null_keys",
            F.coalesce(F.col("eq_pairs"), F.lit(0)).alias("eq_join_pairs"),
            F.coalesce(F.col("ns_pairs"), F.lit(0)).alias("nullsafe_join_pairs"),
        )
    )


# ---------------------------------------------------------------------------
# array_sort with a custom comparator lambda


@register(
    "q_array_sort_comparator",
    oracle="""
        WITH cnts AS (
            SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2
        ),
        ranked AS (
            SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY c DESC, event_type ASC) AS rnk
            FROM cnts
        ),
        sigs AS (
            SELECT user_id,
                   string_agg(event_type, '>' ORDER BY rnk) AS sig
            FROM ranked WHERE rnk <= 2 GROUP BY user_id
        )
        SELECT sig AS top2_signature,
               CAST(count(*) AS BIGINT) AS n_users
        FROM sigs GROUP BY sig
        ORDER BY n_users DESC, top2_signature
    """,
    category="scalar/array",
)
def q_array_sort_comparator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``array_sort`` with a CUSTOM COMPARATOR lambda — the Spark
    surface this exercises: per user, collect (event_type, count)
    structs, sort with a two-level comparator (count DESC, then type
    ASC) entirely inside the array engine, and emit the top-2
    signature 'a>b'; the output is the signature histogram. The
    comparator path is distinct from natural struct ordering
    (q_array_funcs) and from window top-k (q_window_topk_group) —
    at scale it replaces a per-user rank WINDOW with a per-row array
    op after one combinable (user, type) rollup.

    Grain: (user, type) counts → ≤5-element arrays per user (bounded
    by the event-type vocabulary, not event volume) → signature
    histogram. Exact int counts; ties broken inside the comparator by
    type — the oracle's window rank mirrors it. Empty corpus ⇒ 0 rows
    on both engines."""
    cnts = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    arr = cnts.groupBy("user_id").agg(
        F.collect_list(F.struct("c", "event_type")).alias("a")
    )
    cmp_sorted = F.array_sort(
        "a",
        lambda l, r: F.when(l["c"] > r["c"], -1)
        .when(l["c"] < r["c"], 1)
        .when(l["event_type"] < r["event_type"], -1)
        .when(l["event_type"] > r["event_type"], 1)
        .otherwise(0),
    )
    sigs = arr.select(
        F.array_join(
            F.slice(
                F.transform(cmp_sorted, lambda s: s["event_type"]), 1, 2
            ),
            ">",
        ).alias("sig")
    )
    return (
        sigs.groupBy("sig")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .select(F.col("sig").alias("top2_signature"), "n_users")
        .orderBy(F.col("n_users").desc(), "top2_signature")
    )
