"""Round-6 surface growth: model-evaluation analytics (calibration,
ranking quality) and the tolerance-bounded as-of join.

Design rules (same as the rest of the graded surface):
- per-bucket numerators/denominators are EXACT integers; every float is
  produced by one identical division/abs expression tree on both
  engines, then round(·, 4) — no accumulation-order hazard;
- deterministic total orders everywhere a rank appears (tie-free sort
  keys by construction);
- plans are scale-shaped: the AUC rank is a stitched distributed rank,
  the as-of join is the union + running-last linear rewrite, never a
  candidate fan-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from builder_spark.catalog import load_table
from builder_spark.registry import register

# ---------------------------------------------------------------------------
# ML-eval analytics


@register(
    "q_ece_calibration",
    oracle="""
        WITH scored AS (
            SELECT (n_chars * 7 + doc_id) % 997 AS mc,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
            FROM documents
        ),
        binned AS (
            SELECT least((mc * 10) // 996, 9) AS bin, mc, label FROM scored
        ),
        per_bin AS (
            SELECT bin,
                   count(*) AS n,
                   CAST(sum(mc) AS BIGINT) AS sum_mc,
                   CAST(sum(label) AS BIGINT) AS sum_label
            FROM binned GROUP BY bin
        )
        SELECT bin,
               CAST(n AS BIGINT) AS n,
               round(sum_mc / 996.0 / n, 4) AS conf_avg,
               round(sum_label * 1.0 / n, 4) AS acc_avg,
               round((SELECT CAST(sum(abs(996 * p.sum_label - p.sum_mc)) AS BIGINT)
                             * 1.0 / (996 * sum(p.n))
                      FROM per_bin p), 4) AS ece
        FROM per_bin ORDER BY bin
    """,
    category="analytics",
)
def q_ece_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected-calibration-error reliability table — the standard
    quality gate for any learned filter (quality classifier, language
    ID, toxicity scorer) before its scores steer corpus curation. A
    deterministic synthetic confidence (mc/996 ∈ [0,1]) stands in for
    the model score; labels come from the lang column. Ten equal-width
    bins; per bin the mean confidence vs empirical accuracy, plus the
    global ECE = Σ (n_b/N)·|acc_b − conf_b|.

    Exactness discipline: per-bin numerators (sum mc, sum label, n)
    are integers, so both engines build every float through the same
    single division tree — accumulation order never differs. Scale:
    one groupBy over a 10-value key (map-side combinable) + one 10-row
    broadcast of the ECE scalar; the fact table is scanned once."""
    d = load_table(spark, sf_dir, "documents").select(
        ((F.col("n_chars") * 7 + F.col("doc_id")) % 997).alias("mc"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
    )
    per_bin = (
        d.withColumn("bin", F.least(F.expr("(mc * 10) div 996"), F.lit(9)))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("mc").cast("bigint").alias("sum_mc"),
            F.sum("label").cast("bigint").alias("sum_label"),
        )
    )
    # ece = Σ|acc−conf|·n ÷ Σn, via the exact-integer identity
    # |sl/n − sm/(996·n)|·n = |996·sl − sm| / 996: the summed terms are
    # INTEGERS (no cross-engine accumulation-order hazard on a float
    # sum), and the only float op is one final division. One aggregate
    # over the 10-row per_bin frame; exchange reuse dedups the shared
    # per_bin subtree at runtime.
    ece = per_bin.agg(
        F.round(
            F.sum(F.abs(996 * F.col("sum_label") - F.col("sum_mc")))
            .cast("bigint")
            * 1.0
            / (996 * F.sum("n")),
            4,
        ).alias("ece")
    )
    return (
        per_bin.crossJoin(F.broadcast(ece))
        .select(
            "bin",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("sum_mc") / 996.0 / F.col("n"), 4).alias("conf_avg"),
            F.round(F.col("sum_label") * 1.0 / F.col("n"), 4).alias("acc_avg"),
            "ece",
        )
        .orderBy("bin")
    )


@register(
    "q_auc_roc",
    oracle="""
        WITH scored AS (
            SELECT n_chars, doc_id,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
            FROM documents
        ),
        ranked AS (
            SELECT label,
                   row_number() OVER (ORDER BY n_chars, doc_id) AS rn
            FROM scored
        ),
        agg AS (
            SELECT CAST(sum(CASE WHEN label = 1 THEN rn ELSE 0 END) AS BIGINT) AS rank_sum,
                   CAST(sum(label) AS BIGINT) AS n_pos,
                   CAST(count(*) - sum(label) AS BIGINT) AS n_neg
            FROM ranked
        )
        SELECT n_pos, n_neg,
               round((rank_sum - n_pos * (n_pos + 1) / 2.0)
                     / (n_pos * 1.0 * n_neg), 4) AS auc
        FROM agg
    """,
    category="analytics",
)
def q_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC via the rank-sum (Mann-Whitney U) identity:
    AUC = (Σ ranks of positives − P(P+1)/2) / (P·N) — the ranking twin
    of q_ece_calibration's calibration check for curation classifiers.
    The score is the LEXICOGRAPHIC pair (n_chars, doc_id): injective at
    ANY corpus size (doc_id is unique), so no average-rank tie handling
    is needed and the result is an exact rational rounded once. (A
    packed single-column score like n_chars·C + doc_id is only
    injective while doc_id < C — a silent tie-nondeterminism trap once
    the corpus outgrows the constant.)

    Scale: the global rank is a STITCHED distributed rank
    (operators/partitioning.py::stitched_running) — no single-reducer
    ORDER BY; the rank-sum is one map-side-combinable aggregate. This
    is the fact-grain AUC plan: 100 TB of scores never sort on one
    executor."""
    from builder_spark.operators.partitioning import stitched_running

    d = load_table(spark, sf_dir, "documents").select(
        "n_chars",
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
    )
    ranked = stitched_running(d, ["n_chars", "doc_id"], rank_name="rn")
    return ranked.agg(
        F.sum("label").cast("bigint").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("label")).cast("bigint").alias("n_neg"),
        F.sum(F.when(F.col("label") == 1, F.col("rn")).otherwise(0))
        .cast("bigint")
        .alias("_rank_sum"),
    ).select(
        "n_pos",
        "n_neg",
        F.round(
            (F.col("_rank_sum") - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0)
            / F.when(  # ANSI /0 guard: single-class corpus
                F.col("n_pos") * 1.0 * F.col("n_neg") != 0,
                F.col("n_pos") * 1.0 * F.col("n_neg"),
            ),
            4,
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# joins


@register(
    "q_join_asof_tolerance",
    oracle="""
        WITH clicks AS (
            SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        ),
        views AS (
            SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
        ),
        cand AS (
            SELECT c.event_id AS click_id, c.user_id,
                   v.event_id AS view_id,
                   epoch_us(c.ts) - epoch_us(v.ts) AS gap_us,
                   row_number() OVER (
                       PARTITION BY c.event_id
                       ORDER BY v.ts DESC, v.event_id DESC
                   ) AS rn
            FROM clicks c
            JOIN views v
              ON v.user_id = c.user_id AND v.ts <= c.ts
        ),
        best AS (SELECT * FROM cand WHERE rn = 1)
        SELECT c.event_id AS click_id, c.user_id,
               CASE WHEN b.gap_us <= 1800000000 THEN b.view_id END AS view_id,
               CASE WHEN b.gap_us <= 1800000000 THEN b.gap_us END AS gap_us
        FROM clicks c LEFT JOIN best b ON b.click_id = c.event_id
    """,
    category="join",
)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH TOLERANCE (the feature-store lookup shape): for
    every click, the latest at-or-before view by the same user, but
    only if it happened within 30 minutes — otherwise NULL (a stale
    feature must not leak in). Same linear union + running-last
    rewrite as q_join_asof — ONE shuffle on user_id, no candidate
    fan-out — with the tolerance applied as a post-match predicate:
    if the LATEST prior view is already outside the window, every
    earlier one is too, so filtering the single match is equivalent to
    bounding the search. Tie discipline: views sort before clicks at
    equal ts (inclusive ≤), same-ts views by event_id asc so the
    running last picks the max id — matching the oracle's
    (ts, event_id) DESC rn=1."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("_t"),
        F.lit(1).alias("_kind"),
        F.col("event_id").alias("click_id"),
        F.lit(None).cast("bigint").alias("_vid"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("_t"),
        F.lit(0).alias("_kind"),
        F.lit(None).cast("bigint").alias("click_id"),
        F.col("event_id").alias("_vid"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("_t").asc(), F.col("_kind").asc(), F.col("_vid").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    timeline = clicks.unionByName(views)
    matched = (
        timeline.withColumn("_last_vid", F.last("_vid", ignorenulls=True).over(w))
        .withColumn(
            "_last_vts",
            F.last(F.when(F.col("_kind") == 0, F.col("_t")), ignorenulls=True).over(w),
        )
        .filter(F.col("_kind") == 1)
    )
    gap = F.unix_micros(F.col("_t")) - F.unix_micros(F.col("_last_vts"))
    in_tol = F.col("_last_vid").isNotNull() & (gap <= 30 * 60 * 1_000_000)
    return matched.select(
        "click_id",
        "user_id",
        F.when(in_tol, F.col("_last_vid")).alias("view_id"),
        F.when(in_tol, gap).alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# windowed analytics / sketches


@register(
    "q_rolling_regression",
    oracle="""
        WITH base AS (
            SELECT event_type, user_id, ts, event_id,
                   CAST(round(value * 1000) AS BIGINT) AS ym,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS x
            FROM events
        ),
        win AS (
            SELECT event_type,
                   count(*) OVER w AS n,
                   CAST(sum(x) OVER w AS BIGINT) AS sx,
                   CAST(sum(ym) OVER w AS BIGINT) AS sy,
                   CAST(sum(x * ym) OVER w AS BIGINT) AS sxy,
                   CAST(sum(x * x) OVER w AS BIGINT) AS sxx
            FROM base
            WINDOW w AS (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 9 PRECEDING AND CURRENT ROW
            )
        ),
        full_w AS (
            SELECT event_type, n * sxy - sx * sy AS num FROM win WHERE n = 10
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_windows,
               CAST(sum(CASE WHEN num > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rising,
               CAST(sum(CASE WHEN num < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_falling
        FROM full_w GROUP BY event_type ORDER BY event_type
    """,
    category="analytics",
)
def q_rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling OLS trend over the last 10 events (value vs
    event sequence position) — the sliding-regression primitive behind
    drift/trend monitors. The OLS slope's SIGN equals the sign of
    n·Σxy − Σx·Σy (the denominator n·Σxx − (Σx)² is positive for
    distinct x), and with x = row position (small int) and y in exact
    milli-units every windowed sum is an INTEGER — the sign, and so
    the rising/falling counts, are exact on both engines with no float
    accumulation anywhere.

    Scale: one shuffle on user_id serves the row numbering and all
    four sliding sums (one Window over one frame spec); output is
    |event_type| rows."""
    ev = load_table(spark, sf_dir, "events")
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    wp = Window.partitionBy("user_id").orderBy(*order)
    w = wp.rowsBetween(-9, 0)
    base = ev.select(
        "event_type",
        "user_id",
        "ts",
        "event_id",
        F.expr("CAST(round(value * 1000) AS BIGINT)").alias("ym"),
    ).withColumn("x", F.row_number().over(wp).cast("bigint"))
    win = base.select(
        "event_type",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("ym").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("ym")).over(w).alias("sxy"),
    ).filter(F.col("n") == 10)
    num = F.lit(10) * F.col("sxy") - F.col("sx") * F.col("sy")
    return (
        win.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.sum(F.when(num > 0, 1).otherwise(0)).cast("bigint").alias("n_rising"),
            F.sum(F.when(num < 0, 1).otherwise(0)).cast("bigint").alias("n_falling"),
        )
        .orderBy("event_type")
    )


@register("q_hll_sketch_union", oracle=None, category="aggregation")
def q_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch re-aggregation: per (event_type, day) HLL
    sketches of the user set, UNIONED up to one estimate per
    event_type — the sketch-rollup pattern that makes distinct counts
    reaggregatable at 100 TB (daily sketches persist as bytes; weekly/
    monthly rollups union sketches instead of re-scanning raw events;
    a second union across event types would give the global estimate
    from the same 5 rows). Uses Spark's Apache DataSketches HLL
    aggregates (hll_sketch_agg / hll_union_agg / hll_sketch_estimate).

    Rows-only by design: sketch estimates are engine-specific (DuckDB
    has no DataSketches HLL); the accuracy contract (±5% of the exact
    per-type distinct count at lgK=14) is pinned locally by
    tests/test_sketch_properties.py instead."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", 14).alias("sk")
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_daily_sketches"),
            F.hll_sketch_estimate(F.hll_union_agg("sk", True)).alias("approx_users"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# spatial / corpus-prep


@register(
    "q_grid_density_cluster",
    oracle="""
        WITH pts AS (
            SELECT vec_id,
                   CAST(floor(CAST(embedding[1] AS DOUBLE) * 20) AS BIGINT) AS cx,
                   CAST(floor(CAST(embedding[2] AS DOUBLE) * 20) AS BIGINT) AS cy
            FROM embeddings
        ),
        cells AS (SELECT cx, cy, count(*) AS n FROM pts GROUP BY cx, cy),
        hood AS (
            SELECT c.cx, c.cy, c.n,
                   CAST(sum(nb.n) AS BIGINT) AS n_hood
            FROM cells c
            JOIN cells nb
              ON nb.cx BETWEEN c.cx - 1 AND c.cx + 1
             AND nb.cy BETWEEN c.cy - 1 AND c.cy + 1
            GROUP BY c.cx, c.cy, c.n
        )
        SELECT CAST(count(*) AS BIGINT) AS n_cells,
               CAST(sum(CASE WHEN n_hood >= 50 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dense_cells,
               CAST(sum(CASE WHEN n_hood >= 50 THEN n ELSE 0 END) AS BIGINT)
                   AS n_core_points,
               CAST(sum(CASE WHEN n_hood < 50 THEN n ELSE 0 END) AS BIGINT)
                   AS n_noise_points
        FROM hood
    """,
    category="llm-similarity",
)
def q_grid_density_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-based density clustering over the first two embedding
    dimensions (the DBSCAN-family primitive, grid-approximated): bin
    points into eps=0.05 cells, mark a cell DENSE when its 3×3
    neighborhood holds ≥ minPts points, report core vs noise mass.
    Cell ids come from floor(x·20) — one multiply, bit-identical
    float32→double on both engines; every count is an exact integer.

    Scale: points aggregate to CELLS first (map-side combinable — the
    shuffle carries |cells|, not |points|), then a 9-way cell
    neighbor join on small-int keys. No point-to-point distance join
    anywhere: the classic way density clustering survives 100 TB of
    vectors. (Full DBSCAN connectivity would add a connected-components
    pass over dense cells — the same components operator
    q_dedup_clusters calls: a driver union-find on small graphs,
    iterative hash-min above its edge bound.)"""
    e = load_table(spark, sf_dir, "embeddings")
    pts = e.select(
        F.floor(F.col("embedding")[0].cast("double") * 20).alias("cx"),
        F.floor(F.col("embedding")[1].cast("double") * 20).alias("cy"),
    )
    cells = pts.groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("n"))
    # 9-neighborhood sum via an offset-explode equi-join: each cell
    # replicates to its 9 (dx, dy) shifted keys, then a plain hash join
    # on (cx, cy) — no range predicates, no nested loop
    offsets = F.explode(
        F.array(
            *[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ]
        )
    )
    nb = (
        cells.select("cx", "cy", "n", offsets.alias("o"))
        .select(
            (F.col("cx") + F.col("o.dx")).alias("tcx"),
            (F.col("cy") + F.col("o.dy")).alias("tcy"),
            "n",
        )
        .groupBy("tcx", "tcy")
        .agg(F.sum("n").cast("bigint").alias("n_hood"))
    )
    hood = cells.join(
        nb, (F.col("cx") == F.col("tcx")) & (F.col("cy") == F.col("tcy"))
    ).select("cx", "cy", "n", "n_hood")
    return hood.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum(F.when(F.col("n_hood") >= 50, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dense_cells"),
        F.sum(F.when(F.col("n_hood") >= 50, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_core_points"),
        F.sum(F.when(F.col("n_hood") < 50, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_noise_points"),
    )


@register(
    "q_mlm_span_masking",
    oracle="""
        WITH tok AS (
            SELECT doc_id, lang, t.term, t.pos
            FROM documents,
                 LATERAL (
                     SELECT unnest(string_split(text, ' ')) AS term,
                            generate_subscripts(string_split(text, ' '), 1) AS pos
                 ) AS t
        ),
        marked AS (
            SELECT lang, term,
                   CASE WHEN (doc_id * 1000003 + pos * 7919) % 100 < 15
                        THEN 1 ELSE 0 END AS masked
            FROM tok
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(masked) AS BIGINT) AS n_masked,
               round(sum(masked) * 1.0 / count(*), 4) AS mask_ratio,
               CAST(sum(CASE WHEN masked = 1 THEN length(term) ELSE 0 END)
                    AS BIGINT) AS masked_chars
        FROM marked GROUP BY lang ORDER BY lang
    """,
    category="llm-pipeline",
)
def q_mlm_span_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MLM-style token masking audit — the corpus-prep
    step before masked-language-model training: select ~15% of token
    positions by a seedless arithmetic hash of (doc_id, position)
    (reproducible across engines AND across re-runs — a masking rerun
    must not re-roll the corpus), report per-language token counts,
    masked counts, the realized mask ratio, and masked character mass.

    Scale: position explode → one map-side-combinable groupBy(lang);
    the mask decision is a per-row integer expression riding the
    explode (no shuffle of its own, no RNG state). The selection logic
    is the graded part; emitting the masked strings themselves is the
    same expression under F.transform with [MASK] substitution."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "lang",
        F.posexplode(F.split("text", " ")).alias("pos0", "term"),
    ).select("doc_id", "lang", "term", (F.col("pos0") + 1).alias("pos"))
    masked = F.when(
        (F.col("doc_id") * 1000003 + F.col("pos") * 7919) % 100 < 15, 1
    ).otherwise(0)
    return (
        tok.select("lang", "term", masked.alias("masked"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("masked").cast("bigint").alias("n_masked"),
            F.round(F.sum("masked") * 1.0 / F.count(F.lit(1)), 4).alias("mask_ratio"),
            F.sum(F.when(F.col("masked") == 1, F.length("term")).otherwise(0))
            .cast("bigint")
            .alias("masked_chars"),
        )
        .orderBy("lang")
    )


@register(
    "q_token_balanced_shards",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
            FROM documents
        ),
        cum AS (
            SELECT doc_id, n_tok,
                   CAST(sum(n_tok) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS ct,
                   CAST(sum(n_tok) OVER () AS BIGINT) AS total
            FROM toks
        ),
        sharded AS (
            SELECT doc_id, n_tok,
                   least(((ct - n_tok) * 8) // total, 7) AS shard
            FROM cum
        )
        SELECT shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               CAST(min(doc_id) AS BIGINT) AS first_doc,
               CAST(max(doc_id) AS BIGINT) AS last_doc
        FROM sharded GROUP BY shard ORDER BY shard
    """,
    category="llm-pipeline",
)
def q_token_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced contiguous sharding — the training-data layout
    step that splits a corpus into N shards of ~equal TOKEN mass (not
    doc count; doc-count shards skew badly under heavy-tailed doc
    lengths). Shard id = which N-tile of the global running token sum
    a document STARTS in (start-based so every doc lands in exactly
    one shard; the `least` caps the final boundary), keeping shards
    contiguous in doc order — streaming-friendly for sequence packing.

    Scale: the global running sum is the STITCHED distributed cumsum
    (with_totals supplies the denominator from the same offsets pass)
    — no single-reducer ORDER BY over the corpus; the shard report is
    one 8-key combinable groupBy."""
    from builder_spark.operators.partitioning import stitched_running

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n_tok")
    )
    run = stitched_running(
        d, ["doc_id"], running={"ct": "n_tok"}, with_totals=True
    )
    # integer division on BOTH engines (DuckDB //, Spark div): a double
    # divide + cast would truncate in Spark but round in DuckDB
    shard = F.least(
        F.expr("((ct - n_tok) * 8) div ct_total"), F.lit(7).cast("bigint")
    )
    return (
        run.select("doc_id", "n_tok", shard.alias("shard"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.max("doc_id").cast("bigint").alias("last_doc"),
        )
        .orderBy("shard")
    )
