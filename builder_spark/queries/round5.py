"""Round-5 surface growth: curation quality gates, corpus diagnostics,
retrieval/sketch audits, and the Spark-4 SQL surface (recursive CTE,
VARIANT).

Design rules (same as the rest of the graded surface):
- every float aggregate is round(·, 4) on BOTH sides; integer sums are
  CAST AS BIGINT in the oracle (DuckDB HUGEINT → pandas float trap);
- deterministic total orders everywhere a rank or limit appears;
- plans are scale-shaped: token streams aggregate once, top-k goes
  through TakeOrdered or grouped_topk, per-group quantiles run on
  value-grain aggregates, fingerprints move as 16-byte keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from builder_spark.catalog import load_table
from builder_spark.operators.topk import grouped_topk
from builder_spark.registry import QUERIES, register
# _neardup_sweep_oracle splices q_minhash_banded (textops) SQL at
# import time — the lazy registry needs the dep explicit
import builder_spark.queries.textops  # noqa: E402,F401

# ---------------------------------------------------------------------------
# joins / top-k


@register(
    "q_grouped_topk_parts",
    oracle="""
        WITH rev AS (
            SELECT p.p_brand, l.l_partkey,
                   CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                                       * 100) AS BIGINT)) AS BIGINT) AS rev_cents
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
            GROUP BY 1, 2
        )
        SELECT p_brand, l_partkey, rev_cents,
               row_number() OVER (PARTITION BY p_brand
                                  ORDER BY rev_cents DESC, l_partkey ASC) AS rnk
        FROM rev
        QUALIFY rnk <= 3
    """,
    category="join",
)
def q_grouped_topk_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 revenue parts per brand — the generic distributed grouped
    top-k, graded standalone. p_brand has ~25 values over a part-grain
    aggregate (billions of parts at 100 TB), so the ranking goes
    through ``grouped_topk``'s two-phase prune instead of a plain
    PARTITION BY p_brand window. Revenue in exact integer cents so the
    rank order cannot differ by a float ulp between engines."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = (
        l.join(p.select("p_partkey", "p_brand"), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "l_partkey")
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("rev_cents")
        )
    )
    return grouped_topk(
        rev, ["p_brand"], [F.col("rev_cents").desc(), F.col("l_partkey").asc()], 3
    )


# ---------------------------------------------------------------------------
# LLM-text / tokenizer diagnostics


@register(
    "q_bpe_pair_stats",
    oracle="""
        WITH w AS (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents
        ),
        p AS (
            SELECT unnest(list_transform(range(1, length(w)),
                                         i -> substr(w, CAST(i AS INT), 2))) AS pair
            FROM w WHERE length(w) >= 2
        )
        SELECT pair, count(*) AS n
        FROM p GROUP BY pair
        ORDER BY n DESC, pair ASC
        LIMIT 20
    """,
    category="llm-text",
)
def q_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent character pairs inside words — the statistic the
    first BPE merge step consumes (and a cheap tokenizer-fit signal per
    corpus). Pair construction rides the scan (array math per token),
    the count aggregate map-side combines, and the final top-20 is
    orderBy().limit() — TakeOrderedAndProject, never a pair-vocabulary
    sort through one reducer. substr is 1-based in both engines."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select(F.explode(F.split("text", " ")).alias("w")).filter(F.length("w") >= 2)
    pairs = w.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(20)
    )


@register(
    "q_doc_novelty_rate",
    oracle="""
        WITH f AS (
            SELECT doc_id, doc_id % 8 AS batch, md5(text) AS fp FROM documents
        ),
        fb AS (SELECT fp, min(batch) AS first_batch FROM f GROUP BY fp)
        SELECT f.batch,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN f.batch = fb.first_batch THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               round(sum(CASE WHEN f.batch = fb.first_batch THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 4) AS novelty_rate
        FROM f JOIN fb ON fb.fp = f.fp
        GROUP BY f.batch
    """,
    category="llm-dedup",
)
def q_doc_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-growth quality readout: per ingest batch (doc_id % 8
    stands in for arrival order), what share of documents carry a
    content fingerprint never seen in an EARLIER batch. A crawler
    re-fetching the same pages shows novelty collapsing toward 0.
    Scale: md5 fingerprints aggregate once (16-byte keys) and join
    back by fingerprint — no history rescan, no pairwise compare."""
    d = load_table(spark, sf_dir, "documents")
    f = d.select(
        (F.col("doc_id") % 8).alias("batch"), F.md5("text").alias("fp")
    )
    fb = f.groupBy("fp").agg(F.min("batch").alias("first_batch"))
    novel = F.when(F.col("batch") == F.col("first_batch"), 1).otherwise(0)
    return (
        f.join(fb, "fp")
        .groupBy("batch")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(novel).cast("bigint").alias("n_novel"),
            F.round(F.sum(novel) / F.count(F.lit(1)).cast("double"), 4).alias(
                "novelty_rate"
            ),
        )
    )


@register(
    "q_gopher_gates",
    oracle="""
        WITH m AS (
            SELECT lang,
                   len(string_split(text, ' ')) AS n_tok,
                   length(text) AS n_chars,
                   length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits
            FROM documents
        ),
        g AS (
            SELECT lang,
                   CASE WHEN n_tok BETWEEN 5 AND 500 THEN 1 ELSE 0 END AS g_len,
                   CASE WHEN (n_chars - (n_tok - 1)) / CAST(n_tok AS DOUBLE)
                             BETWEEN 3 AND 10 THEN 1 ELSE 0 END AS g_wl,
                   CASE WHEN n_digits * 10 <= n_chars THEN 1 ELSE 0 END AS g_digit
            FROM m
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(g_len) AS BIGINT) AS n_pass_len,
               CAST(sum(g_wl) AS BIGINT) AS n_pass_wordlen,
               CAST(sum(g_digit) AS BIGINT) AS n_pass_digit,
               CAST(sum(g_len * g_wl * g_digit) AS BIGINT) AS n_pass_all
        FROM g GROUP BY lang
    """,
    category="llm-pipeline",
)
def q_gopher_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality gates: token-count band, mean word
    length band, digit-ratio cap — and their conjunction — per
    language. Everything is per-row arithmetic riding the scan plus
    one combinable aggregate; the digit-ratio compare is exact integer
    (n_digits·10 ≤ n_chars), and mean word length uses the
    single-spaced identity chars_no_space = n_chars − (n_tok − 1) so
    no second tokenization pass is needed."""
    d = load_table(spark, sf_dir, "documents")
    m = d.select(
        "lang",
        F.size(F.split("text", " ")).alias("n_tok"),
        F.length("text").alias("n_chars"),
        F.length(F.regexp_replace("text", "[^0-9]", "")).alias("n_digits"),
    )
    mean_wl = (F.col("n_chars") - (F.col("n_tok") - 1)) / F.col("n_tok").cast("double")
    g = m.select(
        "lang",
        F.when(F.col("n_tok").between(5, 500), 1).otherwise(0).alias("g_len"),
        F.when(mean_wl.between(3, 10), 1).otherwise(0).alias("g_wl"),
        F.when(F.col("n_digits") * 10 <= F.col("n_chars"), 1).otherwise(0).alias(
            "g_digit"
        ),
    )
    return g.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("g_len").cast("bigint").alias("n_pass_len"),
        F.sum("g_wl").cast("bigint").alias("n_pass_wordlen"),
        F.sum("g_digit").cast("bigint").alias("n_pass_digit"),
        F.sum(F.col("g_len") * F.col("g_wl") * F.col("g_digit"))
        .cast("bigint")
        .alias("n_pass_all"),
    )


@register(
    "q_doc_entropy_gate",
    oracle="""
        WITH tok AS (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
            FROM documents
        ),
        tf AS (
            SELECT doc_id, lang, w, count(*) AS c FROM tok GROUP BY 1, 2, 3
        ),
        h AS (
            SELECT doc_id, lang,
                   round(ln(CAST(sum(c) AS DOUBLE))
                         - sum(c * ln(CAST(c AS DOUBLE)))
                           / CAST(sum(c) AS DOUBLE), 4) AS entropy
            FROM tf GROUP BY doc_id, lang
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(avg(entropy), 4) AS avg_entropy,
               CAST(sum(CASE WHEN entropy < 1.5 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_low_entropy
        FROM h GROUP BY lang
    """,
    category="llm-pipeline",
)
def q_doc_entropy_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-entropy quality gate (templated/spam text has
    low entropy), rolled up per language: count of documents whose
    Shannon entropy H = ln n − Σc·ln c / n falls below 1.5 nats. The
    gate compares the ROUNDED entropy so sub-ulp summation-order
    differences between engines cannot flip a count. One token-stream
    shuffle into (doc, term) counts; everything after is doc-grain."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "lang", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    h = tf.groupBy("doc_id", "lang").agg(
        F.round(
            F.log(F.sum("c").cast("double"))
            - F.sum(F.col("c") * F.log(F.col("c").cast("double")))
            / F.sum("c").cast("double"),
            4,
        ).alias("entropy")
    )
    return h.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("entropy"), 4).alias("avg_entropy"),
        F.sum(F.when(F.col("entropy") < 1.5, 1).otherwise(0))
        .cast("bigint")
        .alias("n_low_entropy"),
    )


@register(
    "q_length_percentile_gate",
    oracle="""
        WITH lg AS (
            SELECT lang, n_chars, count(*) AS cnt
            FROM documents GROUP BY lang, n_chars
        ),
        cum AS (
            SELECT lang, n_chars, cnt,
                   sum(cnt) OVER (PARTITION BY lang ORDER BY n_chars
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum,
                   sum(cnt) OVER (PARTITION BY lang) AS total
            FROM lg
        ),
        thr AS (
            SELECT lang, min(n_chars) AS p99_len
            FROM cum WHERE cum >= (99 * total + 99) // 100
            GROUP BY lang
        )
        SELECT c.lang,
               CAST(any_value(c.total) AS BIGINT) AS n_docs,
               any_value(t.p99_len) AS p99_len,
               CAST(sum(CASE WHEN c.n_chars > t.p99_len THEN c.cnt ELSE 0 END)
                    AS BIGINT) AS n_trimmed
        FROM cum c JOIN thr t ON t.lang = c.lang
        GROUP BY c.lang
    """,
    category="llm-pipeline",
)
def q_length_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language p99 length cap (the trim-the-tail curation gate),
    computed the scalable way: EXACT type-1 p99 from a cumulative sum
    over the (lang × distinct length) AGGREGATE — input to the ordered
    window is bounded by the length domain, never document grain — and
    the trimmed-document count reuses the same aggregate. Spark's
    exact ``percentile`` aggregate would buffer every value per group;
    this shape moves only (lang, length, count) rows."""
    d = load_table(spark, sf_dir, "documents")
    lg = d.groupBy("lang", "n_chars").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = (
        Window.partitionBy("lang")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("lang")
    cum = lg.select(
        "lang",
        "n_chars",
        "cnt",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("total"),
    )
    thr = (
        cum.filter(F.col("cum") >= F.expr("(99 * total + 99) div 100"))
        .groupBy("lang")
        .agg(F.min("n_chars").alias("p99_len"))
    )
    return (
        cum.join(F.broadcast(thr), "lang")
        .groupBy("lang")
        .agg(
            F.any_value("total").cast("bigint").alias("n_docs"),
            F.any_value("p99_len").alias("p99_len"),
            F.sum(F.when(F.col("n_chars") > F.col("p99_len"), F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("n_trimmed"),
        )
    )


@register(
    "q_dedup_survival_by_source",
    oracle="""
        WITH f AS (
            SELECT doc_id, source, md5(text) AS fp FROM documents
        ),
        k AS (SELECT fp, min(doc_id) AS keep_id FROM f GROUP BY fp)
        SELECT f.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN f.doc_id = k.keep_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_survivors,
               round(sum(CASE WHEN f.doc_id = k.keep_id THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 4) AS survival_rate
        FROM f JOIN k ON k.fp = f.fp
        GROUP BY f.source
    """,
    category="llm-dedup",
)
def q_dedup_survival_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-bias audit: exact-dedup (keep lowest doc_id per content
    fingerprint) survival rate per source — a source whose documents
    mostly lose the dedup race is mirroring content the corpus already
    has. One fingerprint aggregate + one fingerprint join; only
    16-byte keys and (source, counts) move."""
    d = load_table(spark, sf_dir, "documents")
    f = d.select("doc_id", "source", F.md5("text").alias("fp"))
    k = f.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    surv = F.when(F.col("doc_id") == F.col("keep_id"), 1).otherwise(0)
    return (
        f.join(k, "fp")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(surv).cast("bigint").alias("n_survivors"),
            F.round(F.sum(surv) / F.count(F.lit(1)).cast("double"), 4).alias(
                "survival_rate"
            ),
        )
    )


# ---------------------------------------------------------------------------
# retrieval / sketch audits


def _neardup_sweep_oracle() -> str:
    from builder_spark.queries.textops import _grams_sql

    mh = QUERIES["q_minhash_banded"].oracle
    return f"""
        WITH pairs AS (
            SELECT id_a, id_b, est_jaccard FROM ({mh})
        ),
        sh AS (SELECT doc_id, {_grams_sql(3)} AS g FROM documents),
        scored AS (
            SELECT p.est_jaccard,
                   len(list_intersect(a.g, b.g))
                   / CAST(len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))
                          AS DOUBLE) AS exact_j
            FROM pairs p
            JOIN sh a ON a.doc_id = p.id_a
            JOIN sh b ON b.doc_id = p.id_b
        )
        SELECT tau_pct,
               CAST(sum(CASE WHEN est_jaccard >= tau_pct / 100.0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_est,
               CAST(sum(CASE WHEN exact_j >= tau_pct / 100.0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
        FROM scored
        CROSS JOIN (SELECT unnest([50, 60, 70, 80, 90]) AS tau_pct)
        GROUP BY tau_pct
    """


@register(
    "q_neardup_threshold_sweep",
    oracle=None,  # set after definition: composes q_minhash_banded's oracle
    category="llm-dedup",
)
def q_neardup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sweep of the near-dup candidate generator: at each
    Jaccard cutoff tau (0.5 … 0.9), how many MinHash candidate pairs
    the ESTIMATE keeps vs how many the EXACT shingle Jaccard keeps —
    the curve that picks the production dedup threshold. Exact Jaccard
    is computed ONLY on the bounded candidate set (array_intersect per
    pair), and thresholds are integer percents so the group key is
    never a float. Composes the registered q_minhash_banded oracle."""
    from builder_spark.operators.dedup import attach_pairs
    from builder_spark.queries.textops import _word_grams, q_minhash_banded

    pairs = q_minhash_banded(spark, sf_dir).select("id_a", "id_b", "est_jaccard")
    d = load_table(spark, sf_dir, "documents")
    _wg_proj, _wg = _word_grams(F.col("text"), 3)
    sh = d.select("doc_id", _wg_proj).select("doc_id", _wg.alias("g"))
    inter = F.size(F.array_intersect("g_a", "g_b"))
    union = F.size("g_a") + F.size("g_b") - inter
    scored = attach_pairs(pairs, sh, "doc_id", ["g"]).select(
        "est_jaccard", (inter / union.cast("double")).alias("exact_j")
    )
    taus = spark.createDataFrame([(t,) for t in (50, 60, 70, 80, 90)], "tau_pct int")
    thr = F.col("tau_pct") / F.lit(100.0)
    return (
        scored.crossJoin(F.broadcast(taus))
        .groupBy("tau_pct")
        .agg(
            F.sum(F.when(F.col("est_jaccard") >= thr, 1).otherwise(0))
            .cast("bigint")
            .alias("n_est"),
            F.sum(F.when(F.col("exact_j") >= thr, 1).otherwise(0))
            .cast("bigint")
            .alias("n_exact"),
        )
    )


import dataclasses as _dc  # noqa: E402

QUERIES["q_neardup_threshold_sweep"] = _dc.replace(
    QUERIES["q_neardup_threshold_sweep"], oracle=_neardup_sweep_oracle()
)




# ---------------------------------------------------------------------------
# growth / activity analytics


@register(
    "q_dau_wau_mau",
    oracle="""
        WITH du AS (
            SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
            FROM events
        ),
        days AS (SELECT DISTINCT d FROM du),
        dau AS (SELECT d, count(*) AS dau FROM du GROUP BY d),
        wau AS (
            SELECT days.d, count(DISTINCT du.user_id) AS wau
            FROM days JOIN du ON du.d > days.d - INTERVAL 7 DAY AND du.d <= days.d
            GROUP BY days.d
        ),
        mau AS (
            SELECT days.d, count(DISTINCT du.user_id) AS mau
            FROM days JOIN du ON du.d > days.d - INTERVAL 28 DAY AND du.d <= days.d
            GROUP BY days.d
        )
        SELECT dau.d AS day, dau.dau, wau.wau, mau.mau,
               round(dau.dau / CAST(wau.wau AS DOUBLE), 4) AS stickiness
        FROM dau JOIN wau ON wau.d = dau.d JOIN mau ON mau.d = dau.d
    """,
    category="analytics",
)
def q_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / trailing-28-day MAU and the DAU/WAU
    stickiness ratio per day — the growth-accounting headline. Scalable
    shape (q_rolling_distinct's pattern): events collapse ONCE to the
    (day, user) grain, each active day then fans out to the windows it
    belongs to via an exploded offset spine, and the distinct count per
    (window-day) is a plain combinable aggregate — never a
    distinct-over-RANGE-frame window (unbounded per-row state). The
    oracle states the naive interval joins over the same grain."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", F.col("ts")).cast("date").alias("d"), "user_id"
    ).distinct()
    days = du.select("d").distinct()
    dau = du.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))

    def trailing(n_days: int, out: str) -> DataFrame:
        return (
            du.select(
                F.explode(F.sequence(F.lit(0), F.lit(n_days - 1))).alias("off"),
                "d",
                "user_id",
            )
            .select(F.date_add(F.col("d"), F.col("off")).alias("d"), "user_id")
            .join(days, "d", "left_semi")
            .distinct()
            .groupBy("d")
            .agg(F.count(F.lit(1)).alias(out))
        )

    return (
        dau.join(trailing(7, "wau"), "d")
        .join(trailing(28, "mau"), "d")
        .select(
            F.col("d").alias("day"),
            "dau",
            "wau",
            "mau",
            F.round(F.col("dau") / F.col("wau").cast("double"), 4).alias("stickiness"),
        )
    )


@register(
    "q_anomaly_mad",
    oracle="""
        WITH dc AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                   count(*) AS n
            FROM events GROUP BY 1, 2
        ),
        med AS (
            SELECT event_type, median(n) AS med FROM dc GROUP BY event_type
        ),
        dev AS (
            SELECT dc.event_type, dc.n, med.med, abs(dc.n - med.med) AS adev
            FROM dc JOIN med ON med.event_type = dc.event_type
        ),
        mad AS (
            SELECT event_type, median(adev) AS mad FROM dev GROUP BY event_type
        )
        SELECT dev.event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               round(any_value(dev.med), 4) AS med_daily,
               round(any_value(mad.mad), 4) AS mad_daily,
               CAST(sum(CASE WHEN abs(dev.n - dev.med) > 3 * mad.mad
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
        FROM dev JOIN mad ON mad.event_type = dev.event_type
        GROUP BY dev.event_type
    """,
    category="analytics",
)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily-volume anomaly screen per event type: median +
    median-absolute-deviation fences (|n − med| > 3·MAD) instead of the
    stddev z-score a single spike corrupts. Both medians run over the
    (type × day) AGGREGATE — bounded by the calendar, so the exact
    median's per-group buffering is safe at any corpus size. Integer
    daily counts make every deviation exact (medians are .0 or .5,
    both exactly representable)."""
    ev = load_table(spark, sf_dir, "events")
    dc = (
        ev.select("event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    med = dc.groupBy("event_type").agg(F.median("n").alias("med"))
    dev = dc.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("n") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.any_value("med"), 4).alias("med_daily"),
            F.round(F.any_value("mad"), 4).alias("mad_daily"),
            F.sum(
                F.when(F.abs(F.col("n") - F.col("med")) > 3 * F.col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_anomalies"),
        )
    )


@register(
    "q_conversion_curve",
    oracle="""
        WITH v AS (
            SELECT user_id, min(ts) AS v_ts FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ),
        p AS (
            SELECT e.user_id, min(e.ts) AS p_ts
            FROM events e JOIN v ON v.user_id = e.user_id
            WHERE e.event_type = 'purchase' AND e.ts >= v.v_ts
            GROUP BY e.user_id
        ),
        g AS (
            SELECT date_diff('day', CAST(date_trunc('day', v.v_ts) AS DATE),
                             CAST(date_trunc('day', p.p_ts) AS DATE)) AS gap_days
            FROM v JOIN p ON p.user_id = v.user_id
        ),
        c AS (SELECT gap_days, count(*) AS n_users FROM g GROUP BY gap_days),
        t AS (SELECT CAST(sum(n_users) AS BIGINT) AS total FROM c)
        SELECT c.gap_days, CAST(c.n_users AS BIGINT) AS n_users,
               CAST(sum(c.n_users) OVER (ORDER BY c.gap_days
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_users,
               round(sum(c.n_users) OVER (ORDER BY c.gap_days
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     / CAST(t.total AS DOUBLE), 4) AS cum_share
        FROM c CROSS JOIN t
    """,
    category="analytics",
)
def q_conversion_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days-to-convert CDF: for every user whose first purchase comes
    at-or-after their first view, the day gap between the two — counts
    per gap plus the cumulative conversion share. The curve product
    teams read "X% of converters convert within N days" from. User
    aggregates are combinable; the cumulative window runs over the
    day-gap DOMAIN (≤ calendar span), not users; the denominator is a
    1-row broadcast."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    g = v.join(p, "user_id").select(
        F.datediff(
            F.date_trunc("day", F.col("p_ts")).cast("date"),
            F.date_trunc("day", F.col("v_ts")).cast("date"),
        ).alias("gap_days")
    )
    c = g.groupBy("gap_days").agg(F.count(F.lit(1)).alias("n_users"))
    t = c.agg(F.sum("n_users").cast("bigint").alias("total"))
    w = Window.orderBy("gap_days").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "gap_days",
            F.col("n_users").cast("bigint").alias("n_users"),
            F.sum("n_users").over(w).cast("bigint").alias("cum_users"),
            F.round(
                F.sum("n_users").over(w) / F.col("total").cast("double"), 4
            ).alias("cum_share"),
        )
    )


@register(
    "q_recency_weighted_score",
    oracle="""
        WITH ref AS (
            SELECT max(CAST(date_trunc('day', ts) AS DATE)) AS ref_day FROM events
        ),
        s AS (
            SELECT e.user_id,
                   round(sum(e.value * power(0.9,
                       date_diff('day', CAST(date_trunc('day', e.ts) AS DATE),
                                 ref.ref_day))), 4) AS score
            FROM events e CROSS JOIN ref
            WHERE e.event_type = 'purchase'
            GROUP BY e.user_id
        )
        SELECT user_id, score FROM s
        ORDER BY score DESC, user_id ASC
        LIMIT 10
    """,
    category="analytics",
)
def q_recency_weighted_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential recency-weighted purchase score per user (decay 0.9
    per day against the latest day in the data) — the engagement /
    churn-risk primitive. The reference day is a 1-row broadcast, the
    weighted sum is one combinable aggregate riding the scan, and the
    top-10 is TakeOrdered with ranking on the ROUNDED score (user_id
    tie-break) so power() ulps can't flip the cut."""
    ev = load_table(spark, sf_dir, "events")
    ref = ev.agg(
        F.max(F.date_trunc("day", F.col("ts")).cast("date")).alias("ref_day")
    )
    s = (
        ev.filter(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(ref))
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum(
                    F.col("value")
                    * F.pow(
                        F.lit(0.9),
                        F.datediff(
                            F.col("ref_day"),
                            F.date_trunc("day", F.col("ts")).cast("date"),
                        ),
                    )
                ),
                4,
            ).alias("score")
        )
    )
    return s.orderBy(F.col("score").desc(), F.col("user_id").asc()).limit(10)


@register(
    "q_event_regex_funnel",
    oracle="""
        WITH s AS (
            SELECT user_id,
                   string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
                       AS seq
            FROM events GROUP BY user_id
        )
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(CASE WHEN regexp_matches(seq, 's.*v.*p') THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_signup_view_purchase,
               CAST(sum(CASE WHEN regexp_matches(seq, 'v.*p') THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_view_purchase,
               CAST(sum(CASE WHEN regexp_matches(seq, 'c.*p') THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_click_purchase
        FROM s
    """,
    category="analytics",
)
def q_event_regex_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern funnel (the MATCH_RECOGNIZE-lite): each user's
    event history becomes an initials string in (ts, event_id) order
    and ordered-subsequence funnels are regex matches over it —
    signup→…→view→…→purchase etc. Per-user state is one
    session-bounded string (array_sort over the user's own events, not
    a shuffle-wide sort); everything else is a single combinable
    aggregate. The deterministic total order (ts, event_id) makes both
    engines build identical strings."""
    ev = load_table(spark, sf_dir, "events")
    seqs = (
        ev.select(
            "user_id",
            F.struct(F.col("ts"), F.col("event_id"), F.substring("event_type", 1, 1).alias("ini")).alias("e"),
        )
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "", F.transform(F.array_sort(F.collect_list("e")), lambda x: x["ini"])
            ).alias("seq")
        )
    )
    return seqs.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("seq").rlike("s.*v.*p"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_signup_view_purchase"),
        F.sum(F.when(F.col("seq").rlike("v.*p"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_view_purchase"),
        F.sum(F.when(F.col("seq").rlike("c.*p"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_click_purchase"),
    )


# ---------------------------------------------------------------------------
# SQL-surface battery: error-safe arithmetic, information theory,
# formatting round-trips, recursive CTEs, VARIANT


@register(
    "q_try_arithmetic",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_div_null,
               -- exact 1e-3-unit sum: price/1 and price/2 are exact at 3
               -- decimals, and the 2e10 double sum flips the rounded 4th
               -- decimal with partition order (q_salted_join class)
               round(CAST(sum(CAST(round(o_totalprice
                                         / nullif(o_orderkey % 3, 0)
                                         * 1000) AS BIGINT)) AS DOUBLE)
                     / 1000.0, 4) AS sum_div,
               CAST(sum(CASE WHEN TRY_CAST(o_orderpriority AS INT) IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_cast_null,
               CAST(sum(TRY_CAST(substr(o_orderpriority, 1, 1) AS INT))
                    AS BIGINT) AS sum_priority_digit
        FROM orders
    """,
    category="scalar",
)
def q_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic battery (the ANSI-mode survival kit):
    try_divide returns NULL on /0 instead of raising, try_cast returns
    NULL on a failed parse — counted and aggregated so the semantics
    are pinned against the oracle's nullif/TRY_CAST equivalents.
    '1-URGENT' fails a full int parse in both engines while its first
    character parses — both directions are graded. Single scan, one
    combinable aggregate."""
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("o_orderkey") % 3 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_div_null"),
        F.round(  # exact 1e-3-unit sum (price/1 and price/2 are exact
            # at 3 decimals; the raw 2e10 double sum flips the 4th dp)
            F.sum(
                F.round(
                    F.try_divide(F.col("o_totalprice"), F.col("o_orderkey") % 3)
                    * 1000
                ).cast("bigint")
            ).cast("double")
            / 1000.0,
            4,
        ).alias("sum_div"),
        F.sum(F.when(F.col("o_orderpriority").try_cast("int").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_cast_null"),
        F.sum(F.substring("o_orderpriority", 1, 1).try_cast("int"))
        .cast("bigint")
        .alias("sum_priority_digit"),
    )


@register(
    "q_mutual_info",
    oracle="""
        WITH joint AS (
            SELECT lang, source, count(*) AS c FROM documents GROUP BY 1, 2
        ),
        ml AS (SELECT lang, CAST(sum(c) AS BIGINT) AS cl FROM joint GROUP BY lang),
        ms AS (SELECT source, CAST(sum(c) AS BIGINT) AS cs FROM joint GROUP BY source),
        t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM joint)
        SELECT CAST(any_value(t.n) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_cells,
               round(sum((joint.c / CAST(t.n AS DOUBLE))
                         * ln(joint.c * CAST(t.n AS DOUBLE)
                              / (ml.cl * CAST(ms.cs AS DOUBLE)))), 4) AS mi_nats
        FROM joint
        JOIN ml ON ml.lang = joint.lang
        JOIN ms ON ms.source = joint.source
        CROSS JOIN t
    """,
    category="analytics",
)
def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between language and source (does routing by
    source leak language, i.e. can one stratify the other?) — exact
    integer contingency counts, one combinable aggregate over the
    lang × source cells (tiny), marginals joined back as broadcasts,
    per-cell doubles summed then rounded."""
    d = load_table(spark, sf_dir, "documents")
    joint = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("c"))
    ml = joint.groupBy("lang").agg(F.sum("c").cast("bigint").alias("cl"))
    ms = joint.groupBy("source").agg(F.sum("c").cast("bigint").alias("cs"))
    t = joint.agg(F.sum("c").cast("bigint").alias("n"))
    term = (F.col("c") / F.col("n").cast("double")) * F.log(
        F.col("c") * F.col("n").cast("double") / (F.col("cl") * F.col("cs").cast("double"))
    )
    return (
        joint.join(F.broadcast(ml), "lang")
        .join(F.broadcast(ms), "source")
        .crossJoin(F.broadcast(t))
        .agg(
            F.any_value("n").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).alias("n_cells"),
            F.round(F.sum(term), 4).alias("mi_nats"),
        )
    )


@register(
    "q_date_format_parse",
    oracle="""
        WITH f AS (
            SELECT strftime(o_orderdate, '%Y-%m') AS ym,
                   strptime(strftime(o_orderdate, '%Y-%m') || '-15',
                            '%Y-%m-%d') AS mid_month,
                   o_totalprice
            FROM orders
        )
        SELECT ym,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(any_value(mid_month) AS DATE) AS mid_month,
               round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 4) AS revenue  -- exact cents (5.6e8)
        FROM f GROUP BY ym
    """,
    category="scalar/date",
)
def q_date_format_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format→parse round-trip: order dates rendered as 'yyyy-MM'
    strings (the partitioning-key formatting every lake layout uses),
    grouped, and parsed BACK to a mid-month date — pinning
    date_format/to_date against strftime/strptime across engines.
    Formatting rides the scan; the aggregate is month-grain."""
    o = load_table(spark, sf_dir, "orders")
    f = o.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        F.to_date(
            F.concat(F.date_format("o_orderdate", "yyyy-MM"), F.lit("-15")),
            "yyyy-MM-dd",
        ).alias("mid_month"),
        "o_totalprice",
    )
    return f.groupBy("ym").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.any_value("mid_month").alias("mid_month"),
        F.round(  # exact cents sum (5.6e8 magnitude at sf0.1)
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("double") / 100.0, 4
        ).alias("revenue"),
    )


@register(
    "q_recursive_cte",
    oracle="""
        WITH RECURSIVE chain(c_custkey, node, depth) AS (
            SELECT c_custkey, c_custkey, 0 FROM customer
            UNION ALL
            SELECT c_custkey, node // 10, depth + 1 FROM chain WHERE node > 0
        )
        SELECT depth AS n_digits, CAST(count(*) AS BIGINT) AS n_customers
        FROM (
            SELECT c_custkey, max(depth) AS depth FROM chain GROUP BY c_custkey
        )
        GROUP BY depth
    """,
    category="subquery",
)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE surface (Spark 4 WITH RECURSIVE): walk each
    customer key up a synthetic parent chain (integer-divide by 10
    until 0 — a stand-in for org-hierarchy traversal) and histogram
    the chain depth. Recursion depth is bounded by the key's digit
    count (≤ 19 for int64), so the iterative union converges in a
    fixed number of steps at any table size; each step is one
    shuffle-free projection + filter."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("r5_customer")
    return spark.sql(
        """
        WITH RECURSIVE chain(c_custkey, node, depth) AS (
            SELECT c_custkey, c_custkey, 0 FROM r5_customer
            UNION ALL
            SELECT c_custkey, node div 10, depth + 1 FROM chain WHERE node > 0
        )
        SELECT depth AS n_digits, count(*) AS n_customers
        FROM (
            SELECT c_custkey, max(depth) AS depth FROM chain GROUP BY c_custkey
        )
        GROUP BY depth
        """
    )


@register(
    "q_variant_json",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(json_extract(props::JSON, '$.k') AS INT)) AS BIGINT)
                   AS k_sum,
               round(avg(CAST(json_extract(props::JSON, '$.k') AS INT)), 4)
                   AS k_avg
        FROM events
        GROUP BY event_type
    """,
    category="scalar/json",
)
def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT surface (Spark 4): parse_json into the open-schema
    VARIANT type and extract a typed field with variant_get — the
    shredded semi-structured path engines now prefer over repeated
    string parsing. Aggregated per event type; the oracle reads the
    same field through DuckDB's JSON extraction."""
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'int')")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).cast("bigint").alias("k_sum"),
        F.round(F.avg(k), 4).alias("k_avg"),
    )


# ---------------------------------------------------------------------------
# similarity: product quantization


@register(
    "q_ann_pq",
    oracle="""
        WITH mil AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))
                       AS m
            FROM embeddings
        ),
        subs AS (SELECT unnest([0, 1]) AS sub),
        cent AS (
            SELECT subs.sub, mil.vec_id AS cid,
                   CASE subs.sub WHEN 0 THEN mil.m[1:32] ELSE mil.m[33:64] END AS cm
            FROM mil CROSS JOIN subs WHERE mil.vec_id < 16
        ),
        vecsub AS (
            SELECT mil.vec_id, subs.sub,
                   CASE subs.sub WHEN 0 THEN mil.m[1:32] ELSE mil.m[33:64] END AS vm
            FROM mil CROSS JOIN subs
        ),
        d AS (
            SELECT vs.vec_id, vs.sub, c.cid,
                   list_sum(list_transform(range(1, 33),
                       i -> (vs.vm[i] - c.cm[i]) * (vs.vm[i] - c.cm[i]))) AS dist
            FROM vecsub vs JOIN cent c ON c.sub = vs.sub
        ),
        a AS (
            SELECT vec_id, sub, cid, dist FROM d
            QUALIFY row_number() OVER (PARTITION BY vec_id, sub
                                       ORDER BY dist ASC, cid ASC) = 1
        )
        SELECT sub, cid,
               CAST(count(*) AS BIGINT) AS n_vectors,
               round(avg(dist), 4) AS avg_sq_err
        FROM a GROUP BY sub, cid
    """,
    category="llm-similarity",
)
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (the IVF-PQ memory side): the 64-dim space
    splits into 2 subspaces of 32 dims, each with 16 deterministic
    codebook entries (the first 16 vectors' halves), and every vector
    is assigned its nearest codebook entry per subspace — codebook
    cell sizes + average squared reconstruction error are the graded
    artifact. All distances are EXACT int64 on milli-quantized
    components (the q_kmeans_embed discipline), so assignments cannot
    diverge by a float ulp. Scale: the 32-row codebook broadcasts;
    each vector computes 32 distances map-side; one combinable
    aggregate — no pairwise joins."""
    e = load_table(spark, sf_dir, "embeddings")
    mil = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000 + 0.5).cast("bigint"),
        ).alias("m"),
    )
    subs = spark.createDataFrame([(0,), (1,)], "sub int")
    half = F.when(F.col("sub") == 0, F.slice("m", 1, 32)).otherwise(F.slice("m", 33, 32))
    cent = (
        mil.filter(F.col("vec_id") < 16)
        .crossJoin(F.broadcast(subs))
        .select("sub", F.col("vec_id").alias("cid"), half.alias("cm"))
    )
    vecsub = mil.crossJoin(F.broadcast(subs)).select("vec_id", "sub", half.alias("vm"))
    dist = F.aggregate(
        F.zip_with("vm", "cm", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    d = vecsub.join(F.broadcast(cent), "sub").withColumn("dist", dist)
    best = d.groupBy("vec_id", "sub").agg(
        F.min(F.struct(F.col("dist"), F.col("cid"))).alias("b")
    )
    return (
        best.select("sub", F.col("b.cid").alias("cid"), F.col("b.dist").alias("dist"))
        .groupBy("sub", "cid")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("dist"), 4).alias("avg_sq_err"),
        )
    )


# ---------------------------------------------------------------------------
# batch 2: forward as-of, audience overlap, embedding drift, lang-ID
# confidence, tail index, shipping SLA


@register(
    "q_join_asof_forward",
    oracle="""
        WITH v AS (
            SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
        ),
        p AS (
            SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
        ),
        cand AS (
            SELECT v.event_id, v.user_id, v.ts,
                   p.event_id AS purchase_id, p.ts AS purchase_ts,
                   row_number() OVER (
                       PARTITION BY v.event_id
                       ORDER BY p.ts ASC, p.event_id ASC
                   ) AS rn
            FROM v JOIN p ON p.user_id = v.user_id AND p.ts > v.ts
        )
        SELECT event_id, user_id, ts, purchase_id, purchase_ts
        FROM cand WHERE rn = 1
    """,
    category="join",
)
def q_join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: per view event, the EARLIEST purchase
    STRICTLY AFTER it for the same user (the "what happened next"
    direction every attribution model needs). Same union +
    single-timeline algorithm as q_join_asof, mirrored: one shuffle on
    the key, a per-user window with a FOLLOWING frame, and
    first(ignorenulls) — never the quadratic candidate fan-out the
    oracle states. Purchases sort before views at equal timestamps, so
    an equal-timestamp purchase is NOT in the forward frame (strict >);
    equal-timestamp purchases resolve by event_id ascending."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("_t"),
        F.lit(1).alias("_kind"),
        "event_id",
        "ts",
        F.lit(None).cast("bigint").alias("purchase_id"),
        F.lit(None).cast(ev.schema["ts"].dataType).alias("purchase_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("_t"),
        F.lit(0).alias("_kind"),
        F.lit(None).cast("bigint").alias("event_id"),
        F.lit(None).cast(ev.schema["ts"].dataType).alias("ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    timeline = v.unionByName(p)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("_t").asc(), F.col("_kind").asc(), F.col("purchase_id").asc())
        .rowsBetween(1, Window.unboundedFollowing)
    )
    return (
        timeline.withColumn("_next_id", F.first("purchase_id", ignorenulls=True).over(w))
        .withColumn("_next_ts", F.first("purchase_ts", ignorenulls=True).over(w))
        .filter((F.col("_kind") == 1) & F.col("_next_id").isNotNull())
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("_next_id").alias("purchase_id"),
            F.col("_next_ts").alias("purchase_ts"),
        )
    )


@register(
    "q_user_overlap_jaccard",
    oracle="""
        WITH tu AS (
            SELECT DISTINCT event_type, user_id FROM events
        ),
        tot AS (SELECT event_type, count(*) AS n FROM tu GROUP BY event_type),
        inter AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   count(*) AS n_both
            FROM tu a JOIN tu b
              ON b.user_id = a.user_id AND a.event_type < b.event_type
            GROUP BY 1, 2
        )
        SELECT i.type_a, i.type_b,
               CAST(ta.n AS BIGINT) AS n_a,
               CAST(tb.n AS BIGINT) AS n_b,
               CAST(i.n_both AS BIGINT) AS n_both,
               round(i.n_both / CAST(ta.n + tb.n - i.n_both AS DOUBLE), 4)
                   AS jaccard
        FROM inter i
        JOIN tot ta ON ta.event_type = i.type_a
        JOIN tot tb ON tb.event_type = i.type_b
    """,
    category="analytics",
)
def q_user_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap: Jaccard similarity of the USER SETS behind
    each event-type pair (does the purchase audience overlap the click
    audience?). Scale shape: events dedup ONCE to (type, user) — the
    self-join on user then fans out at most C(|types|, 2) = 10 rows
    per user, never events × events — and the per-type totals are a
    5-row broadcast."""
    ev = load_table(spark, sf_dir, "events")
    tu = ev.select("event_type", "user_id").distinct()
    tot = tu.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = tu.select(F.col("event_type").alias("type_a"), "user_id")
    b = tu.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ta = tot.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    tb = tot.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.col("n_both").cast("bigint").alias("n_both"),
            F.round(
                F.col("n_both")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast("double"),
                4,
            ).alias("jaccard"),
        )
    )


@register(
    "q_centroid_drift",
    oracle="""
        WITH mil AS (
            SELECT vec_id, label, vec_id % 2 AS half,
                   list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))
                       AS m
            FROM embeddings
        ),
        ex AS (
            SELECT label, half, i.i AS dim, mil.m[i.i] AS v
            FROM mil CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
        ),
        per_dim AS (
            SELECT label, dim,
                   sum(CASE WHEN half = 0 THEN v ELSE 0 END) AS se,
                   sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS ne,
                   sum(CASE WHEN half = 1 THEN v ELSE 0 END) AS so,
                   sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS no
            FROM ex GROUP BY label, dim
        )
        SELECT label,
               CAST(any_value(ne) AS BIGINT) AS n_even,
               CAST(any_value(no) AS BIGINT) AS n_odd,
               round(sum(power(se / CAST(ne AS DOUBLE)
                               - so / CAST(no AS DOUBLE), 2)), 4) AS sq_drift
        FROM per_dim GROUP BY label
    """,
    category="llm-similarity",
)
def q_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-drift screen: per label, the squared L2 distance
    between the centroid of even-id vectors and odd-id vectors (an
    encoder change or data shift shows as drift; a healthy random
    split shows ≈0). Components are milli-quantized so the per-dim
    sums are EXACT integers; only the final centroid division and the
    64-term square-sum are doubles (identical per-dim values in both
    engines; round(·,4) after the sum). One posexplode + one
    combinable (label × 64)-cell aggregate — no pairwise math."""
    e = load_table(spark, sf_dir, "embeddings")
    mil = e.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * 1000 + 0.5).cast("bigint"),
            )
        ).alias("dim", "v"),
    )
    per_dim = mil.groupBy("label", "dim").agg(
        F.sum(F.when(F.col("half") == 0, F.col("v")).otherwise(0)).alias("se"),
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("ne"),
        F.sum(F.when(F.col("half") == 1, F.col("v")).otherwise(0)).alias("so"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("no"),
    )
    # ANSI /0 guards: a 1-vector label has an empty even or odd half
    _ne = F.col("ne").cast("double")
    _no = F.col("no").cast("double")
    diff = F.col("se") / F.when(_ne != 0, _ne) - F.col("so") / F.when(_no != 0, _no)
    return per_dim.groupBy("label").agg(
        F.any_value("ne").cast("bigint").alias("n_even"),
        F.any_value("no").cast("bigint").alias("n_odd"),
        F.round(F.sum(F.pow(diff, 2)), 4).alias("sq_drift"),
    )


def _lang_margin_oracle() -> str:
    from builder_spark.functions.text import STOPWORDS

    langs = sorted(STOPWORDS)

    def score(lang: str) -> str:
        words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        return (
            f"len(list_filter(string_split(text, ' '), t -> t IN ({words})))"
            " / CAST(len(string_split(text, ' ')) AS DOUBLE)"
        )

    arr = "list_sort([" + ", ".join(score(lg) for lg in langs) + "])"
    return f"""
        WITH m AS (
            SELECT lang,
                   round({arr}[-1] - {arr}[-2], 4) AS margin
            FROM documents
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(avg(margin), 4) AS avg_margin,
               CAST(sum(CASE WHEN margin >= 0.05 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_confident
        FROM m GROUP BY lang
    """


@register("q_lang_margin", oracle=None, category="llm-text")
def q_lang_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confidence margin: best minus second-best stopword
    score per document (the reject-option signal — route low-margin
    docs to a heavier classifier), rolled up per true language. Margin
    is ROUNDED before the 0.05 confidence compare so sub-ulp
    differences can't flip counts; scores are ratios of exact integers
    (identical doubles in both engines). Pure array expressions riding
    the scan + one combinable aggregate."""
    from builder_spark.functions.text import lang_scores

    d = load_table(spark, sf_dir, "documents")
    scores = lang_scores("text")
    arr = F.array_sort(F.array(*[scores[lg] for lg in sorted(scores)]))
    margin = F.round(F.element_at(arr, -1) - F.element_at(arr, -2), 4)
    m = d.select("lang", margin.alias("margin"))
    return m.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("margin"), 4).alias("avg_margin"),
        F.sum(F.when(F.col("margin") >= 0.05, 1).otherwise(0))
        .cast("bigint")
        .alias("n_confident"),
    )


QUERIES["q_lang_margin"] = _dc.replace(
    QUERIES["q_lang_margin"], oracle=_lang_margin_oracle()
)


@register(
    "q_tail_index",
    oracle="""
        WITH top AS (
            SELECT n_chars, doc_id FROM documents
            ORDER BY n_chars DESC, doc_id ASC
            LIMIT 101
        ),
        rk AS (
            SELECT n_chars,
                   row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rn
            FROM top
        ),
        xk AS (SELECT n_chars AS x_tail FROM rk WHERE rn = 101)
        SELECT CAST(100 AS INT) AS k,
               CAST(any_value(xk.x_tail) AS BIGINT) AS x_tail,
               round(1.0 / avg(ln(rk.n_chars / CAST(xk.x_tail AS DOUBLE))), 4)
                   AS hill_alpha
        FROM rk CROSS JOIN xk
        WHERE rk.rn <= 100
    """,
    category="analytics",
)
def q_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimator over the document-length distribution
    (heavy-tail exponent α — how pathological the longest documents
    are, which drives truncation policy). Uses the top-101 order
    statistics only: TakeOrderedAndProject pulls 101 rows (per-
    partition heaps, deterministic doc_id tie-break), the 101st value
    anchors the estimator, and everything after is arithmetic on ≤ 100
    rows."""
    d = load_table(spark, sf_dir, "documents")
    top = d.select("n_chars", "doc_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    ).limit(101)
    w = Window.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    rk = top.select("n_chars", F.row_number().over(w).alias("rn"))
    xk = rk.filter(F.col("rn") == 101).select(F.col("n_chars").alias("x_tail"))
    return (
        rk.filter(F.col("rn") <= 100)
        .crossJoin(F.broadcast(xk))
        .agg(
            F.lit(100).cast("int").alias("k"),
            F.any_value("x_tail").cast("bigint").alias("x_tail"),
            F.round(
                1.0 / F.avg(F.log(F.col("n_chars") / F.col("x_tail").cast("double"))), 4
            ).alias("hill_alpha"),
        )
    )


@register(
    "q_ship_latency_sla",
    oracle="""
        SELECT o.o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_lines,
               round(avg(date_diff('day', CAST(o.o_orderdate AS DATE),
                                   CAST(l.l_shipdate AS DATE))), 4) AS avg_days,
               CAST(sum(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                            CAST(l.l_shipdate AS DATE)) <= 30
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_within_30,
               round(sum(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                             CAST(l.l_shipdate AS DATE)) <= 30
                              THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 4)
                   AS pct_within_30
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderpriority
    """,
    category="analytics",
)
def q_ship_latency_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-SLA report: order→ship latency per priority — average
    days and the share shipped within 30 days. Integer day diffs (no
    float time math), one fact⨝fact shuffle join on the order key,
    one combinable rollup to 5 rows."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    days = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    return (
        l.join(o.select("o_orderkey", "o_orderdate", "o_orderpriority"),
               l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.avg(days), 4).alias("avg_days"),
            F.sum(F.when(days <= 30, 1).otherwise(0)).cast("bigint").alias("n_within_30"),
            F.round(
                F.sum(F.when(days <= 30, 1).otherwise(0)) / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("pct_within_30"),
        )
    )


# ---------------------------------------------------------------------------
# batch 3: data-quality constraints, time-series backtests, curation mix


@register(
    "q_constraint_audit",
    oracle="""
        WITH pk AS (
            SELECT count(*) - count(DISTINCT o_orderkey) AS pk_dups FROM orders
        ),
        fk AS (
            SELECT count(*) AS fk_orphans
            FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
            WHERE o.o_orderkey IS NULL
        ),
        nn AS (
            SELECT CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS null_custkeys
            FROM orders
        ),
        rng AS (
            SELECT CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS nonpositive_prices
            FROM orders
        ),
        dom AS (
            SELECT CAST(sum(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                            THEN 1 ELSE 0 END) AS BIGINT) AS bad_status
            FROM orders
        )
        SELECT CAST(pk.pk_dups AS BIGINT) AS pk_dups,
               CAST(fk.fk_orphans AS BIGINT) AS fk_orphans,
               nn.null_custkeys, rng.nonpositive_prices, dom.bad_status
        FROM pk, fk, nn, rng, dom
    """,
    category="analytics",
)
def q_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dbt-test battery in one pass: primary-key uniqueness on
    orders, foreign-key orphans lineitem→orders, not-null and
    value-range and domain-membership violations — the contract checks
    every ingestion pipeline runs before publishing a table. PK check
    is count minus countDistinct (one shuffle of the key set); the FK
    check is a broadcast-or-shuffle anti-join counting only; everything
    else rides the scan as conditional sums."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    pk = o.agg(
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("pk_dups"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("null_custkeys"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("bigint")
        .alias("nonpositive_prices"),
        F.sum(F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1).otherwise(0))
        .cast("bigint")
        .alias("bad_status"),
    )
    fk = (
        l.join(o.select("o_orderkey"), l.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("fk_orphans"))
    )
    return pk.crossJoin(F.broadcast(fk)).select(
        F.col("pk_dups").cast("bigint").alias("pk_dups"),
        F.col("fk_orphans").cast("bigint").alias("fk_orphans"),
        "null_custkeys",
        "nonpositive_prices",
        "bad_status",
    )


@register(
    "q_seasonal_naive_error",
    oracle="""
        WITH dc AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                   count(*) AS n
            FROM events GROUP BY 1, 2
        ),
        f AS (
            SELECT a.event_type, a.d, a.n, b.n AS forecast
            FROM dc a JOIN dc b
              ON b.event_type = a.event_type AND b.d = a.d - INTERVAL 7 DAY
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               round(avg(abs(n - forecast)), 4) AS mae,
               round(avg(abs(n - forecast) / CAST(n AS DOUBLE)), 4) AS mape
        FROM f GROUP BY event_type
    """,
    category="analytics",
)
def q_seasonal_naive_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive backtest: forecast each day's event volume with
    the value 7 days earlier and report MAE / MAPE per type — the
    baseline every real forecasting model must beat, and the cheapest
    drift alarm. Daily rollup is combinable; the self-join runs on the
    bounded (type × day) aggregate."""
    ev = load_table(spark, sf_dir, "events")
    dc = (
        ev.select("event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    b = dc.select(
        "event_type", F.date_add(F.col("d"), 7).alias("d"), F.col("n").alias("forecast")
    )
    f = dc.join(b, ["event_type", "d"])
    err = F.abs(F.col("n") - F.col("forecast"))
    return f.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(F.avg(err), 4).alias("mae"),
        F.round(F.avg(err / F.col("n").cast("double")), 4).alias("mape"),
    )


@register(
    "q_cusum_changepoint",
    oracle="""
        WITH dc AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        ),
        m AS (
            SELECT event_type, CAST(sum(n) AS BIGINT) AS tot,
                   CAST(count(*) AS BIGINT) AS nd
            FROM dc GROUP BY event_type
        ),
        c AS (
            SELECT dc.event_type, dc.d,
                   sum(dc.n * m.nd - m.tot) OVER (
                       PARTITION BY dc.event_type ORDER BY dc.d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cusum_scaled
            FROM dc JOIN m ON m.event_type = dc.event_type
        )
        SELECT event_type,
               max_by(d, abs(cusum_scaled) * 100000
                         - date_diff('day', DATE '1970-01-01', d))
                   AS changepoint_day,
               CAST(max(abs(cusum_scaled)) AS BIGINT) AS max_cusum_scaled
        FROM c
        GROUP BY event_type
    """,
    category="analytics",
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint screen per event type: the day where the
    cumulative deviation from the period mean peaks — the standard
    level-shift detector for volume monitoring. All EXACT integers:
    deviations are scaled by the day count (n·N − total instead of
    n − mean) so no float accumulates; the window runs over the
    bounded (type × day) aggregate. The argmax key is
    |cusum|·100000 − epoch_day, so equal peaks resolve to the EARLIEST
    day deterministically in both engines (the day offset is strictly
    dominated by one cusum unit)."""
    ev = load_table(spark, sf_dir, "events")
    dc = (
        ev.select("event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    m = dc.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("tot"), F.count(F.lit(1)).cast("bigint").alias("nd")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = (
        dc.join(F.broadcast(m), "event_type")
        .select(
            "event_type",
            "d",
            F.sum(F.col("n") * F.col("nd") - F.col("tot")).over(w).alias("cusum_scaled"),
        )
    )
    argmax_key = F.abs("cusum_scaled") * 100000 - F.datediff(
        F.col("d"), F.lit("1970-01-01").cast("date")
    )
    return c.groupBy("event_type").agg(
        F.max_by("d", argmax_key).alias("changepoint_day"),
        F.max(F.abs("cusum_scaled")).cast("bigint").alias("max_cusum_scaled"),
    )


@register(
    "q_context_overflow",
    oracle="""
        WITH t AS (
            SELECT lang, len(string_split(text, ' ')) AS n_tok FROM documents
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN n_tok > 64 THEN 1 ELSE 0 END) AS BIGINT)
                   AS over_64,
               CAST(sum(CASE WHEN n_tok > 128 THEN 1 ELSE 0 END) AS BIGINT)
                   AS over_128,
               CAST(sum(CASE WHEN n_tok > 256 THEN 1 ELSE 0 END) AS BIGINT)
                   AS over_256,
               round(sum(CASE WHEN n_tok > 128 THEN n_tok - 128 ELSE 0 END)
                     / CAST(sum(n_tok) AS DOUBLE), 4) AS truncated_share_128
        FROM t GROUP BY lang
    """,
    category="llm-pipeline",
)
def q_context_overflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window overflow report: per language, how many documents
    exceed 64/128/256-token windows and what share of the TOKEN VOLUME
    a 128-token truncation would discard — the number that decides
    between truncating, chunking, or dropping. Pure conditional sums
    riding the scan (fixture-scaled window sizes; production uses
    2k/8k/128k with identical shape)."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("lang", F.size(F.split("text", " ")).alias("n_tok"))
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("n_tok") > 64, 1).otherwise(0)).cast("bigint").alias("over_64"),
        F.sum(F.when(F.col("n_tok") > 128, 1).otherwise(0)).cast("bigint").alias("over_128"),
        F.sum(F.when(F.col("n_tok") > 256, 1).otherwise(0)).cast("bigint").alias("over_256"),
        F.round(
            F.sum(F.when(F.col("n_tok") > 128, F.col("n_tok") - 128).otherwise(0))
            / F.sum("n_tok").cast("double"),
            4,
        ).alias("truncated_share_128"),
    )


@register(
    "q_train_mix_weights",
    oracle="""
        WITH cur AS (
            SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                       AS tok
            FROM documents GROUP BY lang
        ),
        t AS (SELECT CAST(sum(tok) AS BIGINT) AS total,
                     CAST(count(*) AS BIGINT) AS n_langs FROM cur)
        SELECT cur.lang,
               cur.tok AS n_tokens,
               round(cur.tok / CAST(t.total AS DOUBLE), 4) AS current_share,
               round(1.0 / t.n_langs, 4) AS target_share,
               round((CAST(t.total AS DOUBLE) / t.n_langs) / cur.tok, 4)
                   AS sample_weight
        FROM cur CROSS JOIN t
    """,
    category="llm-pipeline",
)
def q_train_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture rebalancing: per-language token volume, its
    share of the corpus, the uniform target share, and the sampling
    weight (target/current) that a weighted sampler applies to hit the
    target mix — the knob every multilingual pretraining recipe tunes.
    One token-count aggregate + a 1-row total broadcast."""
    d = load_table(spark, sf_dir, "documents")
    cur = d.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("tok")
    )
    t = cur.agg(
        F.sum("tok").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_langs"),
    )
    return cur.crossJoin(F.broadcast(t)).select(
        "lang",
        F.col("tok").alias("n_tokens"),
        F.round(F.col("tok") / F.col("total").cast("double"), 4).alias("current_share"),
        F.round(F.lit(1.0) / F.col("n_langs"), 4).alias("target_share"),
        F.round(
            (F.col("total").cast("double") / F.col("n_langs")) / F.col("tok"), 4
        ).alias("sample_weight"),
    )


# ---------------------------------------------------------------------------
# batch 4: cohort value, basket distribution, Lorenz points, embedding clip


@register(
    "q_cohort_ltv_curve",
    oracle="""
        WITH fw AS (
            SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
            FROM events GROUP BY user_id
        ),
        sizes AS (
            SELECT cohort_week, count(*) AS n_users FROM fw GROUP BY cohort_week
        ),
        rev AS (
            SELECT fw.cohort_week,
                   date_diff('day', fw.cohort_week,
                             CAST(date_trunc('week', e.ts) AS DATE)) // 7
                       AS week_offset,
                   CAST(sum(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT)
                       AS rev_cents
            FROM events e JOIN fw ON fw.user_id = e.user_id
            WHERE e.event_type = 'purchase'
            GROUP BY 1, 2
        )
        SELECT r.cohort_week, r.week_offset,
               CAST(s.n_users AS BIGINT) AS n_users,
               CAST(sum(r.rev_cents) OVER (
                   PARTITION BY r.cohort_week ORDER BY r.week_offset
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_rev_cents,
               round(sum(r.rev_cents) OVER (
                   PARTITION BY r.cohort_week ORDER BY r.week_offset
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   / CAST(s.n_users AS DOUBLE), 4) AS ltv_cents_per_user
        FROM rev r JOIN sizes s ON s.cohort_week = r.cohort_week
    """,
    category="analytics",
)
def q_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve: cumulative purchase revenue per user, by
    signup-week cohort and weeks-since-signup — the value companion of
    q_retention_cohort (counts). Revenue accumulates as exact integer
    cents; the week offset is an integer day-diff floor-div (not the
    boundary-counting 'week' datediff, which differs across engines).
    Per-user firsts and the (cohort × offset) rollup are combinable;
    the cumulative window runs over the bounded offset domain per
    cohort; cohort sizes broadcast."""
    ev = load_table(spark, sf_dir, "events")
    week = lambda c: F.date_trunc("week", c).cast("date")  # noqa: E731
    fw = ev.groupBy("user_id").agg(week(F.min("ts")).alias("cohort_week"))
    sizes = fw.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("n_users"))
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fw, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(week(F.col("ts")), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.sum(F.floor(F.col("value") * 100).cast("bigint")).cast("bigint").alias("rev_cents"))
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rev.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            F.col("n_users").cast("bigint").alias("n_users"),
            F.sum("rev_cents").over(w).cast("bigint").alias("cum_rev_cents"),
            F.round(
                F.sum("rev_cents").over(w) / F.col("n_users").cast("double"), 4
            ).alias("ltv_cents_per_user"),
        )
    )


@register(
    "q_order_linecount_dist",
    oracle="""
        WITH lc AS (
            SELECT l_orderkey, count(*) AS n_lines FROM lineitem GROUP BY l_orderkey
        ),
        h AS (SELECT n_lines, count(*) AS n_orders FROM lc GROUP BY n_lines),
        t AS (SELECT CAST(sum(n_orders) AS BIGINT) AS total FROM h)
        SELECT h.n_lines, CAST(h.n_orders AS BIGINT) AS n_orders,
               round(h.n_orders / CAST(t.total AS DOUBLE), 4) AS share,
               round(sum(h.n_orders) OVER (ORDER BY h.n_lines
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     / CAST(t.total AS DOUBLE), 4) AS cum_share
        FROM h CROSS JOIN t
    """,
    category="analytics",
)
def q_order_linecount_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket-size distribution: how many line items per order, with
    share and cumulative share — the order-shape profile capacity
    planning and fraud screens both read. Two combinable aggregates
    (order grain, then the tiny line-count domain); the cumulative
    window runs over ≤ max-basket-size rows; total is a 1-row
    broadcast."""
    l = load_table(spark, sf_dir, "lineitem")
    lc = l.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_lines"))
    h = lc.groupBy("n_lines").agg(F.count(F.lit(1)).alias("n_orders"))
    t = h.agg(F.sum("n_orders").cast("bigint").alias("total"))
    w = Window.orderBy("n_lines").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        h.crossJoin(F.broadcast(t))
        .select(
            "n_lines",
            F.col("n_orders").cast("bigint").alias("n_orders"),
            F.round(F.col("n_orders") / F.col("total").cast("double"), 4).alias("share"),
            F.round(
                F.sum("n_orders").over(w) / F.col("total").cast("double"), 4
            ).alias("cum_share"),
        )
    )


@register(
    "q_lorenz_curve_points",
    oracle="""
        WITH pc AS (
            SELECT o_custkey,
                   CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM orders GROUP BY o_custkey
        ),
        rk AS (
            SELECT cents, ntile(10) OVER (ORDER BY cents ASC, o_custkey ASC)
                       AS decile
            FROM pc
        ),
        d AS (
            SELECT decile, CAST(count(*) AS BIGINT) AS n_cust,
                   CAST(sum(cents) AS BIGINT) AS rev
            FROM rk GROUP BY decile
        ),
        t AS (SELECT CAST(sum(n_cust) AS BIGINT) AS tc,
                     CAST(sum(rev) AS BIGINT) AS tr FROM d)
        SELECT d.decile,
               round(sum(d.n_cust) OVER (ORDER BY d.decile
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     / CAST(t.tc AS DOUBLE), 4) AS cum_cust_share,
               round(sum(d.rev) OVER (ORDER BY d.decile
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     / CAST(t.tr AS DOUBLE), 4) AS cum_rev_share
        FROM d CROSS JOIN t
    """,
    category="analytics",
)
def q_lorenz_curve_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve coordinates (the dashboard artifact behind the
    Gini number): cumulative customer share vs cumulative revenue
    share at each revenue decile, ascending. The decile assignment is
    the STITCHED global rank + closed-form ntile — never a
    single-partition sort of the customer aggregate — and the curve
    itself is windows over exactly 10 rows. Exact integer cents
    everywhere until the two final share divisions."""
    from builder_spark.operators.partitioning import ntile_from_rank, stitched_running

    o = load_table(spark, sf_dir, "orders")
    pc = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    ranked = stitched_running(
        pc, ["cents", "o_custkey"], rank_name="rn", with_totals=True
    )
    d = (
        ranked.withColumn("decile", ntile_from_rank(10, "rn", "rn_total"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cust"),
            F.sum("cents").cast("bigint").alias("rev"),
        )
    )
    t = d.agg(
        F.sum("n_cust").cast("bigint").alias("tc"), F.sum("rev").cast("bigint").alias("tr")
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        d.crossJoin(F.broadcast(t))
        .select(
            "decile",
            F.round(F.sum("n_cust").over(w) / F.col("tc").cast("double"), 4).alias(
                "cum_cust_share"
            ),
            F.round(F.sum("rev").over(w) / F.col("tr").cast("double"), 4).alias(
                "cum_rev_share"
            ),
        )
    )


@register(
    "q_emb_dim_clip",
    oracle="""
        WITH mil AS (
            SELECT vec_id, list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))
                       AS m
            FROM embeddings
        ),
        ex AS (
            SELECT i.i AS dim, mil.m[i.i] AS v
            FROM mil CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
        ),
        vc AS (SELECT dim, v, count(*) AS c FROM ex GROUP BY dim, v),
        cum AS (
            SELECT dim, v, c,
                   sum(c) OVER (PARTITION BY dim ORDER BY v
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum,
                   sum(c) OVER (PARTITION BY dim) AS n
            FROM vc
        ),
        p1 AS (
            SELECT dim, min(v) AS p1 FROM cum
            WHERE cum >= (1 * n + 99) // 100 GROUP BY dim
        ),
        p99 AS (
            SELECT dim, min(v) AS p99 FROM cum
            WHERE cum >= (99 * n + 99) // 100 GROUP BY dim
        )
        SELECT c.dim, any_value(p1.p1) AS p1_milli, any_value(p99.p99) AS p99_milli,
               CAST(sum(CASE WHEN c.v < p1.p1 OR c.v > p99.p99
                             THEN c.c ELSE 0 END) AS BIGINT) AS n_clipped
        FROM cum c
        JOIN p1 ON p1.dim = c.dim
        JOIN p99 ON p99.dim = c.dim
        GROUP BY c.dim
    """,
    category="llm-similarity",
)
def q_emb_dim_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension p1/p99 clipping thresholds for embedding
    normalization (outlier components wreck quantizers and cosine
    alike) — EXACT type-1 percentiles from cumulative sums over the
    (dim × distinct milli-value) AGGREGATE, the same scalable
    quantile shape as q_length_percentile_gate: the ordered window
    input is bounded by the value domain (≤ 2001 milli values per
    dim), never vector grain, and the clipped-count reuses the same
    aggregate."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * 1000 + 0.5).cast("bigint"),
            )
        ).alias("dim0", "v")
    ).select((F.col("dim0") + 1).alias("dim"), "v")
    vc = ex.groupBy("dim", "v").agg(F.count(F.lit(1)).alias("c"))
    w_cum = (
        Window.partitionBy("dim")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("dim")
    cum = vc.select(
        "dim",
        "v",
        "c",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )

    def thr(p: int, out: str) -> DataFrame:
        return (
            cum.filter(F.col("cum") >= F.expr(f"({p} * n + 99) div 100"))
            .groupBy("dim")
            .agg(F.min("v").alias(out))
        )

    return (
        cum.join(F.broadcast(thr(1, "p1_milli")), "dim")
        .join(F.broadcast(thr(99, "p99_milli")), "dim")
        .groupBy("dim")
        .agg(
            F.any_value("p1_milli").alias("p1_milli"),
            F.any_value("p99_milli").alias("p99_milli"),
            F.sum(
                F.when(
                    (F.col("v") < F.col("p1_milli")) | (F.col("v") > F.col("p99_milli")),
                    F.col("c"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_clipped"),
        )
    )
