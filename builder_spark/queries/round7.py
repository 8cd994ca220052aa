"""Round-7 surface growth: semantic dedup (SemDeDup-style cell-pruned
embedding dedup), asymmetric containment dedup, token-span duplication
rate, readability and character-class corpus profiles, Kaplan-Meier
survival, session path mining, and algebraic partial-aggregate merge.

Design rules (same as the rest of the graded surface):
- numerators/denominators are EXACT integers; every float is one
  identical division/ln/exp expression tree on both engines, then
  round(·, 4) — cumulative float folds only over identically-ordered
  sequences (same additions in the same order are bit-identical);
- deterministic total orders behind every limit/top-k;
- plans are scale-shaped: dedup candidates come from cell/prefix
  buckets (never all-pairs), span hashes aggregate map-side, the KM
  curve windows run over a calendar-bounded day table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from builder_spark.catalog import load_table
from builder_spark.registry import register

# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style): cell-bucketed embedding prune

#: 1-based embedding dims whose SIGN forms the 64-cell bucket id —
#: shared with the oracle so both engines agree on cells exactly.
_SD_DIMS = [1, 5, 9, 13, 17, 21]
_SD_TAU = 0.3

_SD_CELL_SQL = " + ".join(
    f"(CASE WHEN embedding[{d}] >= 0 THEN {1 << (len(_SD_DIMS) - 1 - i)} ELSE 0 END)"
    for i, d in enumerate(_SD_DIMS)
)
_DD_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)
_DD_NORM = "sqrt(list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * x)))"


@register(
    "q_semdedup_prune",
    oracle=f"""
        WITH c AS (
            SELECT vec_id, label, embedding,
                   {_SD_CELL_SQL} AS cell,
                   {_DD_NORM.format(v="embedding")} AS nrm
            FROM embeddings
        ),
        pruned AS (
            SELECT DISTINCT b.vec_id
            FROM c a JOIN c b ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE round({_DD_DOT.format(a="a.embedding", b="b.embedding")}
                        / (a.nrm * b.nrm), 4) >= {_SD_TAU}
        )
        SELECT label,
               CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(sum(CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_pruned,
               CAST(sum(CASE WHEN p.vec_id IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_kept,
               round(sum(CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                     * 1.0 / count(*), 4) AS prune_rate
        FROM c LEFT JOIN pruned p ON c.vec_id = p.vec_id
        GROUP BY label
    """,
    category="llm-similarity",
)
def q_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup report: embeddings bucket into 64
    sign-cells (6 fixed dims), cosine-compare ONLY within a cell, and
    a vector is PRUNED when any lower-id cell-mate matches at cosine
    ≥ 0.3 (keep-lowest-id survivor rule). Per label: totals, pruned,
    kept, prune rate.

    Scale: the pairwise compare is confined to cells — the shuffle
    carries (cell, vector) once and each reducer compares one cell's
    slab; production SemDeDup uses k-means cells with a size cap, and
    this cell id is exactly such an assignment (deterministic, no
    trained centroids). Norms are projected ONCE before the self-join
    (no CSE inside the join condition otherwise). No all-pairs join
    exists in the plan at any scale."""
    e = load_table(spark, sf_dir, "embeddings")
    cell = sum(
        F.when(F.element_at("embedding", d) >= 0, F.lit(1 << (len(_SD_DIMS) - 1 - i))).otherwise(F.lit(0))
        for i, d in enumerate(_SD_DIMS)
    )
    nrm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    c = e.select(
        "vec_id", "label", "embedding", cell.alias("cell"), nrm.alias("nrm")
    )
    a = c.select(
        F.col("vec_id").alias("ia"),
        F.col("embedding").alias("ea"),
        F.col("cell"),
        F.col("nrm").alias("na"),
    )
    b = c.select(
        F.col("vec_id").alias("ib"),
        F.col("embedding").alias("eb"),
        F.col("cell"),
        F.col("nrm").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pruned = (
        a.join(b, "cell")
        .filter(F.col("ia") < F.col("ib"))
        .withColumn("cos", F.round(dot / (F.col("na") * F.col("nb")), 4))
        .filter(F.col("cos") >= F.lit(_SD_TAU))
        .select(F.col("ib").alias("vec_id"))
        .distinct()
        .withColumn("_pruned", F.lit(1))
    )
    return (
        c.join(pruned, "vec_id", "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.sum(F.when(F.col("_pruned").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_pruned"),
            F.sum(F.when(F.col("_pruned").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.round(
                F.sum(F.when(F.col("_pruned").isNotNull(), 1).otherwise(0))
                * 1.0
                / F.count(F.lit(1)),
                4,
            ).alias("prune_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Asymmetric containment dedup (quote/subset inclusion detection)

_CT_TAU = 0.9


@register(
    "q_containment_dedup",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id AS _id, unnest(list_distinct(string_split(text, ' '))) AS _w
            FROM documents
        ),
        sizes AS (SELECT _id, count(*) AS _sz FROM tok GROUP BY _id),
        inter AS (
            SELECT a._id AS id_a, b._id AS id_b, count(*) AS _inter
            FROM tok a JOIN tok b ON a._w = b._w AND a._id < b._id
            GROUP BY a._id, b._id
        )
        SELECT id_a, id_b,
               round(_inter / CAST(least(sa._sz, sb._sz) AS DOUBLE), 4) AS containment
        FROM inter
        JOIN sizes sa ON sa._id = id_a
        JOIN sizes sb ON sb._id = id_b
        WHERE round(_inter / CAST(least(sa._sz, sb._sz) AS DOUBLE), 4) >= {_CT_TAU}
    """,
    category="llm-dedup",
)
def q_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric token-set CONTAINMENT pairs: |A∩B| / min(|A|,|B|)
    ≥ 0.9 — the quote-inclusion / subset-duplicate detector Jaccard
    misses (a tweet quoted inside an article has tiny Jaccard but
    full containment). Candidates come from an asymmetric PREFIX
    filter: C ≥ τ forces |A∩B| ≥ τ·|A| for the SMALLER set A, so if
    none of A's (|A| − ⌈τ·|A|⌉ + 1) globally-rarest tokens hit B's
    full token set, the pair is impossible — only smaller-side prefix
    tokens enter the join (rare by construction: bounded fan-out),
    never a common-token all-pairs join. Exact verification by
    array_intersect on candidates only.

    Fixture note: the synthetic documents are heavily templated, so
    the TRUE ≥0.9-containment relation is dense (67k pairs at sf0.01,
    ~7M at sf0.1) — wall-clock on these fixtures tracks the answer's
    size, not the filter's selectivity; on a real corpus the relation
    is sparse and the prefix filter's pruning dominates."""
    from builder_spark.functions.text import tokens
    from builder_spark.operators.dedup import containment_pairs

    d = load_table(spark, sf_dir, "documents")
    items = d.select(
        F.col("doc_id").alias("_id"),
        F.array_distinct(tokens("text")).alias("_arr"),
    )
    return containment_pairs(items, _CT_TAU).drop("shared")


# ---------------------------------------------------------------------------
# Token-span duplication rate (cross-doc 16-gram dup mass)

_SPAN_W = 16
_SPAN_CHARFOLD = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(range(1, length({s}) + 1),"
    " j -> CAST(ascii(substr({s}, CAST(j AS INT), 1)) AS BIGINT))),"
    " (a, b) -> (a*31 + b) % 33554432)"
)


@register(
    "q_span_dup_rate",
    oracle=f"""
        WITH spans AS (
            SELECT doc_id, source,
                   {_SPAN_CHARFOLD.format(
                       s=f"array_to_string(toks[CAST(i AS INT):CAST(i AS INT) + {_SPAN_W - 1}], ' ')"
                   )} AS h
            FROM (SELECT doc_id, source, string_split(text, ' ') AS toks
                  FROM documents),
                 LATERAL (SELECT unnest(range(1, len(toks) - {_SPAN_W - 2})) AS i)
            WHERE len(toks) >= {_SPAN_W}
        ),
        hdocs AS (SELECT h, count(DISTINCT doc_id) AS nd FROM spans GROUP BY h)
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
               round(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
                   AS dup_rate
        FROM spans JOIN hdocs USING (h)
        GROUP BY source
    """,
    category="llm-dedup",
)
def q_span_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document token-SPAN duplication rate (the RefinedWeb /
    'Deduplicating Training Data' metric): every 16-token rolling span
    is hashed; a span instance is duplicated when its hash occurs in
    ≥ 2 distinct docs; per source report span count, duplicated-span
    count, and the duplicated fraction — the sub-document dup mass
    whole-doc dedup cannot see.

    Scale: spans travel as charfold HASHES from ONE vectorized Arrow
    span stage (numpy per-token fold + O(1) span composition,
    operators/arrowkern.py — the old plan evaluated the whole charfold
    tree TWICE, once per side of a spans⋈hdocs join, 14 CPU-s at
    sf0.1). The span stream is aggregated ONCE to (h, source) grain
    with per-group instance counts and distinct-doc counts; the
    global distinct-doc count per hash is then a windowed sum over
    those tiny aggregate rows — valid because doc_id is the documents
    PK, so each doc contributes to exactly one source and per-source
    distinct-doc counts add up. No fact-grain join, no second heavy
    eval. Nothing pairwise anywhere."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from builder_spark.operators.arrowkern import charfold_kgram_explode_gen
    from builder_spark.operators.partitioning import spread

    d = load_table(spark, sf_dir, "documents")
    spans = (
        spread(d, "doc_id")
        .select("doc_id", "source", "text")
        .mapInArrow(
            charfold_kgram_explode_gen(_SPAN_W, ["doc_id", "source"]),
            StructType(
                [
                    StructField("doc_id", LongType()),
                    StructField("source", StringType()),
                    StructField("h", LongType()),
                ]
            ),
        )
    )
    # ONE aggregate at (h, doc) grain — doc_id is the documents PK, so
    # each (h, doc_id) row IS one distinct doc for that hash and the
    # per-hash distinct-doc count is a plain count(*) window over these
    # rows (no count_distinct, which would plan a second dedup
    # aggregate + exchange at the same grain). `source` rides along for
    # free: it is functionally determined by doc_id.
    hd = spans.groupBy("h", "doc_id", "source").agg(F.count(F.lit(1)).alias("c"))
    nd = F.count(F.lit(1)).over(Window.partitionBy("h"))
    dup = F.sum(F.when(F.col("nd") >= 2, F.col("c")).otherwise(0))
    return (
        hd.withColumn("nd", nd)
        .groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_spans"),
            dup.cast("bigint").alias("n_dup"),
            F.round(dup * 1.0 / F.sum("c"), 4).alias("dup_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Readability (Flesch reading ease from exact integer masses)


@register(
    "q_readability",
    oracle="""
        WITH per_doc AS (
            SELECT lang,
                   len(string_split(text, ' ')) AS words,
                   greatest(
                       length(regexp_replace(text, '[.!?]+', '#', 'g'))
                       - length(regexp_replace(text, '[.!?]+', '', 'g')), 1)
                       AS sentences,
                   length(regexp_replace(text, '[aeiouAEIOU]+', '#', 'g'))
                   - length(regexp_replace(text, '[aeiouAEIOU]+', '', 'g'))
                       AS syllables
            FROM documents
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(words) AS BIGINT) AS words,
               CAST(sum(sentences) AS BIGINT) AS sentences,
               CAST(sum(syllables) AS BIGINT) AS syllables,
               round(206.835 - 1.015 * (sum(words) * 1.0 / sum(sentences))
                     - 84.6 * (sum(syllables) * 1.0 / sum(words)), 4) AS flesch
        FROM per_doc GROUP BY lang
    """,
    category="llm-text",
)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Flesch reading-ease from corpus-level integer
    masses (words, sentence-terminator groups, vowel-group syllable
    proxy) — the classic readability gate in corpus quality reports.
    Counts are per-row integer expressions (regexp length deltas: a
    vowel GROUP collapses to one '#', so marker-len − stripped-len =
    group count); the only float is the final Flesch formula over
    per-lang sums, identical on both engines then rounded."""
    d = load_table(spark, sf_dir, "documents")
    words = F.size(F.split("text", " "))
    sentences = F.greatest(
        F.length(F.regexp_replace("text", "[.!?]+", "#"))
        - F.length(F.regexp_replace("text", "[.!?]+", "")),
        F.lit(1),
    )
    syllables = F.length(F.regexp_replace("text", "[aeiouAEIOU]+", "#")) - F.length(
        F.regexp_replace("text", "[aeiouAEIOU]+", "")
    )
    per_doc = d.select(
        "lang",
        words.alias("w"),
        sentences.alias("s"),
        syllables.alias("y"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("w").cast("bigint").alias("words"),
        F.sum("s").cast("bigint").alias("sentences"),
        F.sum("y").cast("bigint").alias("syllables"),
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * (F.sum("w") * 1.0 / F.sum("s"))
            - F.lit(84.6) * (F.sum("y") * 1.0 / F.sum("w")),
            4,
        ).alias("flesch"),
    )


# ---------------------------------------------------------------------------
# Character-class corpus profile


def _cc_count_sql(pattern: str) -> str:
    return (
        f"length(text) - length(regexp_replace(text, '{pattern}', '', 'g'))"
    )


@register(
    "q_charclass_profile",
    oracle=f"""
        WITH per_doc AS (
            SELECT source,
                   length(text) AS chars,
                   {_cc_count_sql("[A-Za-z]")} AS letters,
                   {_cc_count_sql("[0-9]")} AS digits,
                   {_cc_count_sql("[ ]")} AS spaces,
                   {_cc_count_sql("[A-Z]")} AS uppers
            FROM documents
        )
        SELECT source,
               CAST(sum(chars) AS BIGINT) AS chars,
               CAST(sum(letters) AS BIGINT) AS letters,
               CAST(sum(digits) AS BIGINT) AS digits,
               CAST(sum(spaces) AS BIGINT) AS spaces,
               CAST(sum(chars - letters - digits - spaces) AS BIGINT) AS other,
               round(sum(letters) * 1.0 / sum(chars), 4) AS letter_ratio,
               round(sum(uppers) * 1.0 / greatest(sum(letters), 1), 4) AS upper_ratio,
               round(sum(chars - letters - digits - spaces) * 1.0 / sum(chars), 4)
                   AS other_ratio
        FROM per_doc GROUP BY source
    """,
    category="llm-text",
)
def q_charclass_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-class profile (letter/digit/space/other
    masses and ratios, uppercase share) — the cheap first-pass corpus
    fingerprint that catches mojibake, code-vs-prose mixes, and
    shouting sources before any tokenizer runs. Pure per-row integer
    regexp length deltas folded by one combinable groupBy."""
    d = load_table(spark, sf_dir, "documents")

    def cnt(pat: str) -> F.Column:
        return F.length("text") - F.length(F.regexp_replace("text", pat, ""))

    per_doc = d.select(
        "source",
        F.length("text").alias("chars"),
        cnt("[A-Za-z]").alias("letters"),
        cnt("[0-9]").alias("digits"),
        cnt("[ ]").alias("spaces"),
        cnt("[A-Z]").alias("uppers"),
    )
    other = F.sum(
        F.col("chars") - F.col("letters") - F.col("digits") - F.col("spaces")
    )
    return per_doc.groupBy("source").agg(
        F.sum("chars").cast("bigint").alias("chars"),
        F.sum("letters").cast("bigint").alias("letters"),
        F.sum("digits").cast("bigint").alias("digits"),
        F.sum("spaces").cast("bigint").alias("spaces"),
        other.cast("bigint").alias("other"),
        F.round(F.sum("letters") * 1.0 / F.sum("chars"), 4).alias("letter_ratio"),
        F.round(
            F.sum("uppers") * 1.0 / F.greatest(F.sum("letters"), F.lit(1)), 4
        ).alias("upper_ratio"),
        F.round(other * 1.0 / F.sum("chars"), 4).alias("other_ratio"),
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival over return gaps (time-to-next-event)


@register(
    "q_survival_km",
    oracle="""
        WITH g AS (
            SELECT user_id, epoch_us(ts) AS us,
                   lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                            ORDER BY ts ASC, event_id ASC) AS nxt
            FROM events
        ),
        durs AS (
            SELECT CASE WHEN nxt IS NULL
                        THEN ((SELECT max(epoch_us(ts)) FROM events) - us)
                        ELSE (nxt - us) END // 3600000000 AS t,
                   CASE WHEN nxt IS NULL THEN 0 ELSE 1 END AS observed
            FROM g
        ),
        hour AS (
            SELECT t, CAST(sum(observed) AS BIGINT) AS d, count(*) AS c
            FROM durs GROUP BY t
        ),
        risk AS (
            SELECT t, d,
                   CAST((SELECT count(*) FROM durs)
                        - coalesce(sum(c) OVER (ORDER BY t
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS n_risk
            FROM hour
        )
        SELECT t, n_risk, d,
               round(exp(sum(ln(greatest(1.0 - d * 1.0 / n_risk, 1e-12)))
                         OVER (ORDER BY t
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
                     4) AS s_t
        FROM risk WHERE d > 0
    """,
    category="analytics",
)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of RETURN GAPS — for every event,
    the hours until the same user's next event; each user's final gap
    (last event → dataset end) is right-censored. S(t) = P(return gap
    > t hours), the product-limit estimator behind time-to-return /
    churn-risk duration analyses (plain gap averages are biased by
    exactly those censored tails). S multiplies (1 − d/n) at death
    times only; the product is exp(Σ ln(·)) so both engines fold the
    SAME doubles in the SAME t-order (bit-identical), then round —
    with a greatest(·, 1e-12) floor because Spark's log(0) is NULL
    while DuckDB's errors (the d = n_risk final step rounds to 0.0
    either way).

    Scale: one shuffle on user_id serves the lead() gap window; the
    curve itself lives on an HOUR table bounded by the calendar span,
    so the two unpartitioned cumulative windows are constant-sized
    (whitelisted bounded frames)."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    g = ev.select("user_id", us.alias("us"), F.lead(us).over(w).alias("nxt"))
    gmax = ev.agg(F.max(us).alias("gmax"))
    durs = g.crossJoin(F.broadcast(gmax)).select(
        F.floor(
            F.coalesce(F.col("nxt"), F.col("gmax")) - F.col("us"),
        )
        .cast("bigint")
        .alias("gap_us"),
        F.when(F.col("nxt").isNull(), 0).otherwise(1).alias("observed"),
    ).select(
        # integer `div` to match the oracle's `//` (ADVICE r10 — the
        # q_merge_intervals double-rounding class)
        F.expr("gap_us div 3600000000").alias("t"),
        "observed",
    )
    hour = durs.groupBy("t").agg(
        F.sum("observed").cast("bigint").alias("d"),
        F.count(F.lit(1)).alias("c"),
    )
    w_excl = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_incl = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    total = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    risk = hour.select(
        "t",
        "d",
        (
            F.sum("c").over(total) - F.coalesce(F.sum("c").over(w_excl), F.lit(0))
        )
        .cast("bigint")
        .alias("n_risk"),
    ).filter(F.col("d") > 0)
    return risk.select(
        "t",
        "n_risk",
        "d",
        F.round(
            F.exp(
                F.sum(
                    F.log(
                        F.greatest(
                            F.lit(1.0) - F.col("d") * 1.0 / F.col("n_risk"),
                            F.lit(1e-12),
                        )
                    )
                ).over(w_incl)
            ),
            4,
        ).alias("s_t"),
    )


# ---------------------------------------------------------------------------
# Session path mining (top event-type 3-step paths)


@register(
    "q_session_paths",
    oracle="""
        WITH gaps AS (
            SELECT user_id, event_id, ts, event_type,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                         OR lag(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        ),
        sess AS (
            SELECT *, sum(new_session) OVER (
                PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM gaps
        ),
        ranked AS (
            SELECT user_id, sid, event_type,
                   row_number() OVER (PARTITION BY user_id, sid
                                      ORDER BY ts ASC, event_id ASC) AS rn
            FROM sess
        ),
        paths AS (
            SELECT user_id, sid,
                   string_agg(event_type, '>' ORDER BY rn) AS path
            FROM ranked WHERE rn <= 3 GROUP BY user_id, sid
        )
        SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        FROM paths GROUP BY path
        ORDER BY n_sessions DESC, path ASC LIMIT 10
    """,
    category="analytics",
)
def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 session-opening event-type paths (first ≤3 events of
    each 30-min-gap session, joined with '>') — the sequence-mining
    view of product flows. One shuffle on user_id serves the gap lag,
    the session cumsum, and the per-session rank; paths aggregate
    map-side and the top-10 is a TakeOrdered (total order: count desc,
    path asc), never a global sort."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    us = F.unix_micros("ts")
    gap = us - F.lag(us).over(w)
    new_session = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = ev.withColumn("sid", F.sum(new_session).over(cum))
    wr = Window.partitionBy("user_id", "sid").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    ranked = sess.withColumn("rn", F.row_number().over(wr)).filter(F.col("rn") <= 3)
    paths = ranked.groupBy("user_id", "sid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s.getField("event_type"),
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Algebraic partial-aggregate merge (incremental view maintenance)

_MERGE_CUTOFF = "1997-01-01"


@register(
    "q_agg_merge_incremental",
    oracle="""
        SELECT strftime(o_orderdate, '%Y-%m') AS month,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS revenue_cents,
               CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS max_cents
        FROM orders GROUP BY 1
    """,
    category="aggregation",
)
def q_agg_merge_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-view-maintenance primitive: the monthly revenue
    rollup is computed as BASE partial aggregates (orders before
    1997-01-01) merged with DELTA partials (on/after) — count/sum
    merge by sum, max by max — and must equal the full recompute the
    oracle runs. This is the algebra every incremental pipeline rebuild
    rests on (only the delta partition is scanned on update; the base
    partials are reused bytes). Both phases are map-side combinable;
    the merge re-aggregates two already-tiny partial tables."""
    o = load_table(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("cents"),
        F.col("o_orderdate"),
    )
    cutoff = F.lit(_MERGE_CUTOFF).cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("month").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("s"),
            F.max("cents").alias("m"),
        )

    base = partial(o.filter(F.col("o_orderdate") < cutoff))
    delta = partial(o.filter(F.col("o_orderdate") >= cutoff))
    return (
        base.unionByName(delta)
        .groupBy("month")
        .agg(
            F.sum("n").cast("bigint").alias("n_orders"),
            F.sum("s").cast("bigint").alias("revenue_cents"),
            F.max("m").cast("bigint").alias("max_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Maximum-inner-product search (unnormalized retrieval)


@register(
    "q_mips_maxdot",
    oracle=f"""
        WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
                   FROM embeddings WHERE vec_id < 20),
        pairs AS (
            SELECT q.q_id, e.vec_id,
                   round({_DD_DOT.format(a="q.q_emb", b="e.embedding")}, 4) AS dot
            FROM q, embeddings e
            WHERE e.vec_id <> q.q_id
        )
        SELECT q_id, vec_id, dot,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY dot DESC, vec_id ASC) AS rnk
        FROM pairs
        QUALIFY rnk <= 5
    """,
    category="llm-similarity",
)
def q_mips_maxdot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-INNER-PRODUCT top-5 for the first 20 query vectors —
    the unnormalized retrieval objective (recommendation scoring,
    un-normalized embedding stores) where cosine's norm division is
    wrong. Queries broadcast; the dot product rides the candidate
    scan; per-query top-5 via grouped_topk (partition-local prune,
    then rank over ≤ 5·P survivors — never a K·N global window).
    Round-then-rank keeps rank parity with the oracle."""
    from builder_spark.operators.topk import grouped_topk

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    dot = F.aggregate(
        F.zip_with("q_emb", "embedding", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", F.round(dot, 4).alias("dot"))
    )
    return grouped_topk(
        pairs, ["q_id"], [F.col("dot").desc(), F.col("vec_id").asc()], k=5
    )


# ---------------------------------------------------------------------------
# Filtered vector search (metadata predicate + exact retrieval)


@register(
    "q_filtered_ann",
    oracle=f"""
        WITH q AS (SELECT vec_id AS q_id, label, embedding AS q_emb,
                          {_DD_NORM.format(v="embedding")} AS q_nrm
                   FROM embeddings WHERE vec_id < 10),
        pairs AS (
            SELECT q.q_id, e.vec_id,
                   round({_DD_DOT.format(a="q.q_emb", b="e.embedding")}
                         / (q.q_nrm * {_DD_NORM.format(v="e.embedding")}), 4)
                       AS cos_sim
            FROM q JOIN embeddings e ON e.label = q.label
            WHERE e.vec_id <> q.q_id
        )
        SELECT q_id, vec_id, cos_sim,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos_sim DESC, vec_id ASC) AS rnk
        FROM pairs
        QUALIFY rnk <= 3
    """,
    category="llm-similarity",
)
def q_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search: top-3 cosine neighbors restricted to
    candidates sharing the query's label — the metadata-predicate
    retrieval every vector store ships (filter + search in one pass,
    not post-filtering a larger top-k, which under-fills). The label
    equi-join IS the filter: candidates shuffle/broadcast only within
    the label partition, and per-query top-3 is a grouped_topk prune.
    Query norms are projected once before the join."""
    from builder_spark.operators.topk import grouped_topk

    e = load_table(spark, sf_dir, "embeddings")
    nrm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"),
        "label",
        F.col("embedding").alias("q_emb"),
        nrm.alias("q_nrm"),
    )
    cand = e.select("vec_id", "label", "embedding", nrm.alias("c_nrm"))
    dot = F.aggregate(
        F.zip_with("q_emb", "embedding", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        cand.join(F.broadcast(q), "label")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.round(dot / (F.col("q_nrm") * F.col("c_nrm")), 4).alias("cos_sim"),
        )
    )
    return grouped_topk(
        pairs, ["q_id"], [F.col("cos_sim").desc(), F.col("vec_id").asc()], k=3
    )


# ---------------------------------------------------------------------------
# Interval concurrency (sweep line over session intervals)


@register(
    "q_concurrency_sweep",
    oracle="""
        WITH gaps AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                         OR lag(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        ),
        sess AS (
            SELECT user_id,
                   sum(new_session) OVER (PARTITION BY user_id
                       ORDER BY ts ASC, event_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid,
                   ts, event_id
            FROM gaps
        ),
        ivals AS (
            SELECT user_id, sid, min(epoch_us(ts)) AS s_us, max(epoch_us(ts)) AS e_us
            FROM sess GROUP BY user_id, sid
        ),
        pts AS (
            SELECT s_us AS t_us, 1 AS delta, user_id, sid FROM ivals
            UNION ALL
            SELECT e_us + 1, -1, user_id, sid FROM ivals
        ),
        sweep AS (
            SELECT t_us,
                   sum(delta) OVER (ORDER BY t_us ASC, delta DESC,
                                    user_id ASC, sid ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
            FROM pts
        )
        SELECT strftime(make_timestamp(t_us), '%Y-%m-%d') AS day,
               CAST(max(conc) AS BIGINT) AS peak_concurrency
        FROM sweep GROUP BY 1
    """,
    category="analytics",
)
def q_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day via the classic SWEEP LINE:
    sessions (30-min gap) become +1/−1 boundary points, a GLOBAL
    running sum over time order is the live-concurrency curve, and the
    per-day max is the capacity-planning number. The global cumsum is
    a stitched rank (range-partitioned local windows + broadcast
    offsets) — fact-grain points, no single-reducer ORDER BY; ties
    order (t, delta DESC, user, sid) so a session ending exactly when
    another starts counts as overlapping on both engines."""
    from builder_spark.operators.partitioning import stitched_running

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    us = F.unix_micros("ts")
    gap = us - F.lag(us).over(w)
    new_session = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ivals = (
        ev.withColumn("sid", F.sum(new_session).over(cum))
        .groupBy("user_id", "sid")
        .agg(F.min(us).alias("s_us"), F.max(us).alias("e_us"))
    )
    pts = ivals.select(
        F.col("s_us").alias("t_us"), F.lit(1).alias("delta"), "user_id", "sid"
    ).unionByName(
        ivals.select(
            (F.col("e_us") + 1).alias("t_us"), F.lit(-1).alias("delta"), "user_id", "sid"
        )
    )
    swept = stitched_running(
        pts,
        [
            F.col("t_us").asc(),
            F.col("delta").desc(),
            F.col("user_id").asc(),
            F.col("sid").asc(),
        ],
        running={"conc": "delta"},
    )
    return (
        swept.select(
            F.date_format(F.timestamp_micros(F.col("t_us")), "yyyy-MM-dd").alias("day"),
            "conc",
        )
        .groupBy("day")
        .agg(F.max("conc").cast("bigint").alias("peak_concurrency"))
    )


# ---------------------------------------------------------------------------
# Versioned-table time travel (Layer A target powering a Layer B read)


@register(
    "q_versioned_time_travel",
    oracle="""
        SELECT strftime(o_orderdate, '%Y') AS year,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS revenue_cents
        FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY 1
    """,
    category="source-sink",
)
def q_versioned_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot TIME TRAVEL through the VersionedTableTarget manifest
    log: commit v1 = pre-1998 orders, v2 = the full table, then read
    VERSION 1 and aggregate — `SELECT ... VERSION AS OF 1` semantics
    (reproducible reads for pipeline reruns, audits, rollbacks)
    without Delta/Iceberg jars. The v2 commit proves the v1 read is
    genuinely snapshot-isolated, not latest-wins; the oracle recomputes
    v1's content predicate against the raw table."""
    import shutil

    from builder_spark.pipeline import make_target
    from builder_spark.scratch import scratch_dir

    o = load_table(spark, sf_dir, "orders")
    root = scratch_dir("time_travel")
    shutil.rmtree(root, ignore_errors=True)
    t = make_target(f"vt://{root}/orders")
    v1_path = t.stage_data_path()
    o.filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(v1_path)
    t.commit(data_path=v1_path)
    v2_path = t.stage_data_path()
    o.write.mode("overwrite").parquet(v2_path)
    t.commit(data_path=v2_path)
    back = spark.read.parquet(t.read_path(version=1))
    return back.groupBy(
        F.date_format("o_orderdate", "yyyy").alias("year")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("revenue_cents"),
    )


# ---------------------------------------------------------------------------
# Rare-category collapse (feature engineering: min-support binning)

_RARE_MIN_SUPPORT = 15


@register(
    "q_rare_category_collapse",
    oracle=f"""
        WITH cat AS (
            SELECT p_brand || '/' || p_type AS category,
                   CAST(round(p_retailprice * 100) AS BIGINT) AS cents
            FROM part
        ),
        counts AS (SELECT category, count(*) AS n FROM cat GROUP BY category)
        SELECT CASE WHEN c.n >= {_RARE_MIN_SUPPORT} THEN cat.category
                    ELSE 'OTHER' END AS category,
               CAST(count(*) AS BIGINT) AS n_parts,
               CAST(sum(cat.cents) AS BIGINT) AS sum_cents,
               round(avg(cat.cents / 100.0), 4) AS avg_price
        FROM cat JOIN counts c USING (category)
        GROUP BY 1
    """,
    category="analytics",
)
def q_rare_category_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-support categorical binning: (brand, type) combos with
    fewer than 15 parts collapse into 'OTHER' — the cardinality-control
    step before one-hot/target encoding (rare levels overfit and blow
    up feature width). Min-support is an ABSOLUTE count by definition
    (the statistical floor for estimating a level's effect), so the
    kept/collapsed split shifts with data volume by design — at sf0.01
    the fixture splits 54 kept + OTHER; a production user tunes the
    floor to their estimator. Two combinable aggregates and one
    broadcast count join; avg is computed from exact integer cents on
    both engines then rounded."""
    p = load_table(spark, sf_dir, "part")
    cat = p.select(
        F.concat_ws("/", "p_brand", "p_type").alias("category"),
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("cents"),
    )
    counts = cat.groupBy("category").agg(F.count(F.lit(1)).alias("n"))
    return (
        cat.join(F.broadcast(counts), "category")
        .select(
            F.when(F.col("n") >= _RARE_MIN_SUPPORT, F.col("category"))
            .otherwise(F.lit("OTHER"))
            .alias("category"),
            "cents",
        )
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
            F.round(F.avg(F.col("cents") / 100.0), 4).alias("avg_price"),
        )
    )


# ---------------------------------------------------------------------------
# Smoothed target encoding (leakage-safe category -> numeric feature)

_TE_ALPHA = 10


@register(
    "q_target_encoding",
    oracle=f"""
        WITH t AS (
            SELECT o_orderpriority AS category,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        ),
        g AS (SELECT CAST(sum(cents) AS BIGINT) AS gs, count(*) AS gn FROM t)
        SELECT category,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS sum_cents,
               round((sum(cents) + {_TE_ALPHA} * (g.gs * 1.0 / g.gn))
                     / (count(*) + {_TE_ALPHA}) / 100.0, 4) AS encoded
        FROM t, g
        GROUP BY category, g.gs, g.gn
    """,
    category="analytics",
)
def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-smoothed TARGET ENCODING of order priority against
    order value: enc(c) = (Σ target + α·global_mean) / (n + α) — the
    standard high-cardinality categorical feature (smoothing shrinks
    rare levels toward the prior instead of memorizing them).
    Numerators are exact integer cents; the global mean is a 1-row
    broadcast; one identical float expression both sides, then round."""
    o = load_table(spark, sf_dir, "orders")
    t = o.select(
        F.col("o_orderpriority").alias("category"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    g = t.agg(
        F.sum("cents").cast("bigint").alias("gs"), F.count(F.lit(1)).alias("gn")
    )
    return (
        t.crossJoin(F.broadcast(g))
        .groupBy("category", "gs", "gn")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .select(
            "category",
            "n",
            "sum_cents",
            F.round(
                (F.col("sum_cents") + F.lit(_TE_ALPHA) * (F.col("gs") * 1.0 / F.col("gn")))
                / (F.col("n") + F.lit(_TE_ALPHA))
                / 100.0,
                4,
            ).alias("encoded"),
        )
    )


# ---------------------------------------------------------------------------
# Vocabulary growth (Heaps' law curve from first-occurrence ranks)


@register(
    "q_vocab_growth",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
            FROM documents
        ),
        firsts AS (SELECT w, min(doc_id) AS first_doc FROM tok GROUP BY w),
        newv AS (SELECT first_doc AS doc_id, count(*) AS new_terms
                 FROM firsts GROUP BY first_doc),
        toks AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tok
                 FROM documents),
        curve AS (
            SELECT t.doc_id,
                   sum(t.n_tok) OVER (ORDER BY t.doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_tokens,
                   sum(coalesce(n.new_terms, 0)) OVER (ORDER BY t.doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_vocab,
                   row_number() OVER (ORDER BY t.doc_id) AS rn,
                   count(*) OVER () AS n_docs
            FROM toks t LEFT JOIN newv n USING (doc_id)
        )
        SELECT CAST((rn * 10) // n_docs AS INT) AS decile,
               CAST(max(cum_tokens) AS BIGINT) AS cum_tokens,
               CAST(max(cum_vocab) AS BIGINT) AS cum_vocab
        FROM curve WHERE (rn * 10) % n_docs = 0
        GROUP BY 1
    """,
    category="llm-text",
)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: cumulative distinct vocab
    vs cumulative token mass over the corpus in doc_id order, sampled
    at corpus deciles — the saturation diagnostic for 'is more data
    still adding new language?'. Distinct-term mass converts to a
    per-doc NEW-TERMS count via first-occurrence (min doc_id per term,
    one combinable aggregate), so the curve is two running sums over
    doc grain — both computed by ONE stitched pass (range-partitioned
    local windows + broadcast offsets), never a single-reducer ORDER
    BY. Decile sampling keeps the output 10 rows at any corpus size."""
    from builder_spark.operators.partitioning import stitched_running

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w"))
    firsts = tok.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    newv = firsts.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("new_terms")
    )
    toks = d.select("doc_id", F.size(F.split("text", " ")).alias("n_tok"))
    base = toks.join(newv, "doc_id", "left").select(
        "doc_id",
        "n_tok",
        F.coalesce("new_terms", F.lit(0)).alias("new_terms"),
    )
    curve = stitched_running(
        base,
        ["doc_id"],
        running={"cum_tokens": "n_tok", "cum_vocab": "new_terms"},
        rank_name="rn",
        with_totals=True,
    )
    return (
        curve.filter((F.col("rn") * 10) % F.col("rn_total") == 0)
        .select(
            ((F.col("rn") * 10) / F.col("rn_total")).cast("int").alias("decile"),
            "cum_tokens",
            "cum_vocab",
        )
        .groupBy("decile")
        .agg(
            F.max("cum_tokens").cast("bigint").alias("cum_tokens"),
            F.max("cum_vocab").cast("bigint").alias("cum_vocab"),
        )
    )


# ---------------------------------------------------------------------------
# Nearest as-of join (either direction, prior wins ties)


@register(
    "q_join_asof_nearest",
    oracle="""
        WITH prior AS (
            SELECT e.event_id, o.o_orderkey, o.o_orderdate,
                   row_number() OVER (PARTITION BY e.event_id
                       ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
            FROM events e
            JOIN orders o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
        ),
        nxt AS (
            SELECT e.event_id, o.o_orderkey, o.o_orderdate,
                   row_number() OVER (PARTITION BY e.event_id
                       ORDER BY o.o_orderdate ASC, o.o_orderkey ASC) AS rn
            FROM events e
            JOIN orders o ON e.user_id = o.o_custkey AND o.o_orderdate > e.ts
        )
        SELECT e.event_id, e.user_id, e.ts,
               CASE WHEN p.o_orderkey IS NOT NULL AND (n.o_orderkey IS NULL
                         OR epoch_us(e.ts) - epoch_us(p.o_orderdate)
                            <= epoch_us(n.o_orderdate) - epoch_us(e.ts))
                    THEN p.o_orderkey ELSE n.o_orderkey END AS o_orderkey,
               CASE WHEN p.o_orderkey IS NOT NULL AND (n.o_orderkey IS NULL
                         OR epoch_us(e.ts) - epoch_us(p.o_orderdate)
                            <= epoch_us(n.o_orderdate) - epoch_us(e.ts))
                    THEN 'prior' ELSE 'next' END AS direction
        FROM events e
        LEFT JOIN prior p ON p.event_id = e.event_id AND p.rn = 1
        LEFT JOIN nxt n ON n.event_id = e.event_id AND n.rn = 1
        WHERE p.o_orderkey IS NOT NULL OR n.o_orderkey IS NOT NULL
    """,
    category="join",
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join: per event, the user's closest order in
    EITHER direction (latest at-or-before vs earliest strictly-after),
    prior winning distance ties — the sensor-alignment flavor of as-of
    (match each reading to the nearest calibration, whichever side).
    One union timeline + ONE shuffle serves BOTH directions: a
    running-last frame carries the latest prior order forward and a
    first-following frame carries the next order backward over the
    same sort — still linear, no candidate fan-out, exactly like
    q_join_asof but with a second window over the same exchange."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").alias("_t"),
        F.lit(1).alias("_kind"),
        "event_id",
        "ts",
        F.lit(None).cast("bigint").alias("o_orderkey"),
        F.lit(None).cast("timestamp_ntz").alias("o_orderdate"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("_t"),
        F.lit(0).alias("_kind"),
        F.lit(None).cast("bigint").alias("event_id"),
        F.lit(None).cast("timestamp_ntz").alias("ts"),
        "o_orderkey",
        "o_orderdate",
    )
    timeline = ev.unionByName(o)
    # orders sort BEFORE events at equal _t (kind 0 < 1): an equal-ts
    # order lands in the PRIOR frame (<= semantics) and never the next
    base = Window.partitionBy("user_id").orderBy(
        F.col("_t").asc(), F.col("_kind").asc(), F.col("o_orderkey").asc()
    )
    w_back = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_fwd = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    # backward keeps the LAST (max orderkey at the tie date); forward
    # the FIRST (min orderkey at the earliest later date) — matching
    # the oracle's DESC/ASC rn=1 choices
    out = (
        timeline.withColumn("_pk", F.last("o_orderkey", ignorenulls=True).over(w_back))
        .withColumn("_pd", F.last("o_orderdate", ignorenulls=True).over(w_back))
        .withColumn("_nk", F.first("o_orderkey", ignorenulls=True).over(w_fwd))
        .withColumn("_nd", F.first("o_orderdate", ignorenulls=True).over(w_fwd))
        .filter(F.col("_kind") == 1)
        .filter(F.col("_pk").isNotNull() | F.col("_nk").isNotNull())
    )
    # _pd/_nd carry the orders-side timestamp_ntz; unix_micros needs
    # TIMESTAMP — the cast is per-row tz-consistent (UTC session)
    prior_wins = F.col("_pk").isNotNull() & (
        F.col("_nk").isNull()
        | (
            F.unix_micros("ts") - F.unix_micros(F.col("_pd").cast("timestamp"))
            <= F.unix_micros(F.col("_nd").cast("timestamp")) - F.unix_micros("ts")
        )
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.when(prior_wins, F.col("_pk")).otherwise(F.col("_nk")).alias("o_orderkey"),
        F.when(prior_wins, F.lit("prior")).otherwise(F.lit("next")).alias("direction"),
    )


# ---------------------------------------------------------------------------
# Mutual nearest neighbors (bitext/dedup matching primitive)


@register(
    "q_mutual_best_match",
    oracle=f"""
        WITH c AS (
            SELECT vec_id, embedding,
                   {_SD_CELL_SQL} AS cell,
                   {_DD_NORM.format(v="embedding")} AS nrm
            FROM embeddings
        ),
        directed AS (
            SELECT a.vec_id AS ia, b.vec_id AS ib,
                   round({_DD_DOT.format(a="a.embedding", b="b.embedding")}
                         / (a.nrm * b.nrm), 4) AS cos,
                   row_number() OVER (PARTITION BY a.vec_id
                       ORDER BY round({_DD_DOT.format(a="a.embedding", b="b.embedding")}
                                      / (a.nrm * b.nrm), 4) DESC,
                                b.vec_id ASC) AS rn
            FROM c a JOIN c b ON a.cell = b.cell AND a.vec_id <> b.vec_id
        ),
        best AS (SELECT ia, ib, cos FROM directed WHERE rn = 1)
        SELECT x.ia AS id_a, x.ib AS id_b, x.cos
        FROM best x JOIN best y ON x.ia = y.ib AND x.ib = y.ia
        WHERE x.ia < x.ib
    """,
    category="llm-similarity",
)
def q_mutual_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL nearest neighbors within candidate cells: pairs where
    each vector is the other's top-1 cosine match — the
    high-precision matching rule behind bitext mining and
    duplicate-pair confirmation (one-directional nearest is noisy;
    mutuality filters hubs). Candidates are confined to the same
    64-sign-cell buckets as q_semdedup_prune (no all-pairs); per-side
    top-1 is a grouped_topk prune; mutuality is a self-join of two
    1-row-per-vector tables. Round-then-rank keeps top-1 parity."""
    from builder_spark.operators.topk import grouped_topk

    e = load_table(spark, sf_dir, "embeddings")
    cell = sum(
        F.when(F.element_at("embedding", d) >= 0, F.lit(1 << (len(_SD_DIMS) - 1 - i))).otherwise(F.lit(0))
        for i, d in enumerate(_SD_DIMS)
    )
    nrm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    c = e.select("vec_id", "embedding", cell.alias("cell"), nrm.alias("nrm"))
    a = c.select(
        F.col("vec_id").alias("ia"),
        F.col("embedding").alias("ea"),
        "cell",
        F.col("nrm").alias("na"),
    )
    b = c.select(
        F.col("vec_id").alias("ib"),
        F.col("embedding").alias("eb"),
        "cell",
        F.col("nrm").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    directed = (
        a.join(b, "cell")
        .filter(F.col("ia") != F.col("ib"))
        .select("ia", "ib", F.round(dot / (F.col("na") * F.col("nb")), 4).alias("cos"))
    )
    best = grouped_topk(
        directed, ["ia"], [F.col("cos").desc(), F.col("ib").asc()], k=1
    ).select("ia", "ib", "cos")
    other = best.select(F.col("ia").alias("ib"), F.col("ib").alias("ia"))
    return (
        best.join(other, ["ia", "ib"])
        .filter(F.col("ia") < F.col("ib"))
        .select(F.col("ia").alias("id_a"), F.col("ib").alias("id_b"), "cos")
    )


# ---------------------------------------------------------------------------
# Dataset card (one-row corpus summary)


@register(
    "q_dataset_card",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        )
        SELECT (SELECT count(*) FROM documents) AS n_docs,
               (SELECT CAST(count(*) AS BIGINT) FROM tok) AS n_tokens,
               (SELECT CAST(count(DISTINCT w) AS BIGINT) FROM tok) AS vocab_size,
               (SELECT count(DISTINCT lang) FROM documents) AS n_langs,
               (SELECT count(DISTINCT source) FROM documents) AS n_sources,
               (SELECT CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT)
                FROM documents) AS n_exact_dups,
               round((SELECT count(*) - count(DISTINCT md5(text)) FROM documents)
                     * 1.0 / (SELECT count(*) FROM documents), 4) AS dup_rate,
               round((SELECT count(*) FROM tok) * 1.0
                     / (SELECT count(*) FROM documents), 4) AS avg_doc_tokens
    """,
    category="llm-pipeline",
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row DATASET CARD: docs, token mass, vocabulary size,
    language/source counts, exact-duplicate count and rate (16-byte
    md5 fingerprints, never text), and mean doc length — the summary
    block every corpus release publishes. Two combinable aggregates
    (doc grain + token stream) cross-joined; every count is exact."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    tok_agg = tok.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.count_distinct("w").cast("bigint").alias("vocab_size"),
    )
    doc_agg = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("source").alias("n_sources"),
        (F.count(F.lit(1)) - F.count_distinct(F.md5("text")))
        .cast("bigint")
        .alias("n_exact_dups"),
    )
    return doc_agg.crossJoin(F.broadcast(tok_agg)).select(
        "n_docs",
        "n_tokens",
        "vocab_size",
        "n_langs",
        "n_sources",
        "n_exact_dups",
        # ANSI /0 guards: empty corpus card
        F.round(
            F.col("n_exact_dups") * 1.0 / F.when(F.col("n_docs") != 0, F.col("n_docs")),
            4,
        ).alias("dup_rate"),
        F.round(
            F.col("n_tokens") * 1.0 / F.when(F.col("n_docs") != 0, F.col("n_docs")),
            4,
        ).alias("avg_doc_tokens"),
    )


# ---------------------------------------------------------------------------
# Hard-negative mining (contrastive-training data)


@register(
    "q_hard_negatives",
    oracle=f"""
        WITH c AS (
            SELECT vec_id, label, embedding,
                   {_SD_CELL_SQL} AS cell,
                   {_DD_NORM.format(v="embedding")} AS nrm
            FROM embeddings
        ),
        q AS (SELECT * FROM c WHERE vec_id < 10),
        directed AS (
            SELECT q.vec_id AS q_id, c.vec_id AS cand_id, c.label AS cand_label,
                   q.label AS q_label,
                   round({_DD_DOT.format(a="q.embedding", b="c.embedding")}
                         / (q.nrm * c.nrm), 4) AS cos
            FROM q JOIN c ON q.cell = c.cell AND q.vec_id <> c.vec_id
        ),
        ranked AS (
            SELECT q_id, cand_id, cos,
                   CASE WHEN cand_label = q_label THEN 'positive'
                        ELSE 'hard_negative' END AS role,
                   row_number() OVER (
                       PARTITION BY q_id, (cand_label = q_label)
                       ORDER BY cos DESC, cand_id ASC) AS rn
            FROM directed
        )
        SELECT q_id, cand_id, role, cos FROM ranked WHERE rn <= 3
    """,
    category="llm-similarity",
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE mining for contrastive training: per query
    vector, the top-3 most-similar SAME-label candidates (positives)
    and the top-3 most-similar DIFFERENT-label candidates (hard
    negatives — near misses that teach the margin; random negatives
    are too easy to matter). Candidates confined to the query's
    sign-cell (no all-pairs); one directed pair stream serves both
    roles via a grouped top-k per (query, role). Round-then-rank."""
    from builder_spark.operators.topk import grouped_topk

    e = load_table(spark, sf_dir, "embeddings")
    cell = sum(
        F.when(F.element_at("embedding", d) >= 0, F.lit(1 << (len(_SD_DIMS) - 1 - i))).otherwise(F.lit(0))
        for i, d in enumerate(_SD_DIMS)
    )
    nrm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    c = e.select("vec_id", "label", "embedding", cell.alias("cell"), nrm.alias("nrm"))
    q = c.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
        "cell",
        F.col("nrm").alias("q_nrm"),
    )
    dot = F.aggregate(
        F.zip_with("q_emb", "embedding", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    directed = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("cand_id"),
            F.when(F.col("label") == F.col("q_label"), F.lit("positive"))
            .otherwise(F.lit("hard_negative"))
            .alias("role"),
            F.round(dot / (F.col("q_nrm") * F.col("nrm")), 4).alias("cos"),
        )
    )
    return grouped_topk(
        directed, ["q_id", "role"], [F.col("cos").desc(), F.col("cand_id").asc()], k=3
    ).select("q_id", "cand_id", "role", "cos")


# ---------------------------------------------------------------------------
# Multi-aggregate pivot


@register(
    "q_pivot_multi_agg",
    oracle="""
        -- nullif(count, 0): Spark's pivot emits NULL (not 0) for a
        -- (year, status) cell with no rows — mirror it (degenerate audit)
        SELECT year(o_orderdate) AS o_year,
               CAST(nullif(count(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0)
                    AS BIGINT) AS F_n,
               round(CAST(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS DOUBLE) / 100.0, 4) AS F_total,
               CAST(nullif(count(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0)
                    AS BIGINT) AS O_n,
               round(CAST(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS DOUBLE) / 100.0, 4) AS O_total,
               CAST(nullif(count(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0)
                    AS BIGINT) AS P_n,
               round(CAST(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS DOUBLE) / 100.0, 4) AS P_total
        FROM orders
        GROUP BY year(o_orderdate)
    """,
    category="grouping",
)
def q_pivot_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with MULTIPLE aggregates per cell (count + revenue per
    status-year): Spark names the columns <value>_<agg alias>, so both
    aggregates are aliased to match the oracle's CASE columns exactly.
    Pivot values stay DECLARED — one combinable aggregate, no
    discovery scan."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(  # exact cents sum (2e9-magnitude cells at sf0.1)
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                .cast("double") / 100.0, 4
            ).alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility diagnostics


@register(
    "q_tokenizer_fertility",
    oracle="""
        WITH per_doc AS (
            SELECT lang,
                   len(string_split(text, ' ')) AS ws_toks,
                   len(list_filter(string_split_regex(text, '[^a-z0-9]+'),
                                   x -> length(x) > 0)) AS re_toks,
                   length(text) AS chars
            FROM documents
        )
        SELECT lang,
               CAST(sum(ws_toks) AS BIGINT) AS ws_tokens,
               CAST(sum(re_toks) AS BIGINT) AS re_tokens,
               round(sum(re_toks) * 1.0 / sum(ws_toks), 4) AS fertility,
               round(sum(chars) * 1.0 / sum(ws_toks), 4) AS chars_per_token
        FROM per_doc GROUP BY lang
    """,
    category="llm-text",
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per language: sub-token pieces produced per
    whitespace word by a BPE-ish alnum pre-tokenizer, plus chars per
    word — the cost model for context-window budgeting (fertility ≫ 1
    on a language means budget blowup for the same text mass).
    Per-row integer counts, one combinable groupBy(lang); empty regex
    splits are filtered identically on both engines."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.size(F.split("text", " "))
    re_toks = F.size(
        F.filter(F.split("text", "[^a-z0-9]+"), lambda x: F.length(x) > 0)
    )
    per_doc = d.select(
        "lang",
        ws.alias("ws_toks"),
        re_toks.alias("re_toks"),
        F.length("text").alias("chars"),
    )
    return per_doc.groupBy("lang").agg(
        F.sum("ws_toks").cast("bigint").alias("ws_tokens"),
        F.sum("re_toks").cast("bigint").alias("re_tokens"),
        F.round(F.sum("re_toks") * 1.0 / F.sum("ws_toks"), 4).alias("fertility"),
        F.round(F.sum("chars") * 1.0 / F.sum("ws_toks"), 4).alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# Source quota cap (corpus balancing)

_QUOTA_PER_SOURCE = 50


@register(
    "q_source_quota_cap",
    oracle=f"""
        WITH ranked AS (
            SELECT source, doc_id, n_chars,
                   row_number() OVER (PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
            FROM documents
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN rn <= {_QUOTA_PER_SOURCE} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN rn <= {_QUOTA_PER_SOURCE} THEN n_chars ELSE 0 END)
                    AS BIGINT) AS kept_chars
        FROM ranked GROUP BY source
    """,
    category="llm-pipeline",
)
def q_source_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source QUOTA sampling: keep at most 50 docs per source,
    selected by deterministic hash order (md5 of the doc id — an
    unbiased, reproducible draw, unlike head-N which inherits file
    order) — the corpus-balancing step that stops one crawl from
    drowning the mixture. The rank is a grouped_topk prune per source
    (partition-local top-50, then rank over ≤ 50·P survivors), and the
    report is one combinable aggregate."""
    from builder_spark.operators.topk import grouped_topk

    d = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        "n_chars",
        F.md5(F.col("doc_id").cast("string")).alias("_h"),
    )
    kept = grouped_topk(
        d,
        ["source"],
        [F.col("_h").asc(), F.col("doc_id").asc()],
        k=_QUOTA_PER_SOURCE,
    ).select("source", "doc_id", F.lit(1).alias("_kept"))
    return (
        d.join(kept.select("doc_id", "_kept"), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("_kept").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(F.when(F.col("_kept").isNotNull(), F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("kept_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Alpha-smoothed multilingual resampling rates


@register(
    "q_lang_resample_alpha",
    oracle="""
        WITH counts AS (
            SELECT lang, count(*) AS n FROM documents GROUP BY lang
        ),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,
                       sum(pow(n * 1.0 / (SELECT sum(n) FROM counts), 0.3)) AS z
                FROM counts)
        SELECT lang,
               CAST(n AS BIGINT) AS n_docs,
               round(n * 1.0 / total, 4) AS p,
               round(pow(n * 1.0 / total, 0.3) / z, 4) AS q_alpha,
               round((pow(n * 1.0 / total, 0.3) / z) / (n * 1.0 / total), 4)
                   AS upsample_factor
        FROM counts, tot
    """,
    category="llm-pipeline",
)
def q_lang_resample_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alpha-smoothed MULTILINGUAL resampling (the XLM-R/mBERT recipe,
    α = 0.3): target language share q_l ∝ p_l^α flattens the
    distribution so low-resource languages aren't drowned; the
    upsample factor q/p is the per-language duplication rate the
    sampler applies. One combinable groupBy(lang) plus a 1-row
    broadcast normalizer; the p^α/Σ expressions are identical trees on
    both engines, rounded.

    The normalizer z sums ONE double per LANGUAGE (enum cardinality) —
    engines agree because DuckDB's scalar subquery and Spark's 1-row
    crossJoin both reduce the same ≤dozens of values; this is the
    bounded-cardinality float-sum exception, not fact-grain float
    accumulation."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    totals = counts.agg(F.sum("n").cast("bigint").alias("total"))
    z = (
        counts.crossJoin(F.broadcast(totals))
        .agg(F.sum(F.pow(F.col("n") * 1.0 / F.col("total"), F.lit(0.3))).alias("z"))
    )
    norm = totals.crossJoin(z)
    p = F.col("n") * 1.0 / F.col("total")
    q = F.pow(p, F.lit(0.3)) / F.col("z")
    return counts.crossJoin(F.broadcast(norm)).select(
        "lang",
        F.col("n").cast("bigint").alias("n_docs"),
        F.round(p, 4).alias("p"),
        F.round(q, 4).alias("q_alpha"),
        F.round(q / p, 4).alias("upsample_factor"),
    )


# ---------------------------------------------------------------------------
# Bipartite HITS (integer-exact, 2 unnormalized iterations)


@register(
    "q_hits_bipartite",
    oracle="""
        WITH e AS (
            SELECT DISTINCT user_id AS u, event_type AS t FROM events
        ),
        a1 AS (SELECT t, count(*) AS s FROM e GROUP BY t),
        h1 AS (SELECT u, CAST(sum(a1.s) AS BIGINT) AS s
               FROM e JOIN a1 USING (t) GROUP BY u),
        a2 AS (SELECT t, CAST(sum(h1.s) AS BIGINT) AS s
               FROM e JOIN h1 USING (u) GROUP BY t),
        hubs AS (
            SELECT 'hub' AS kind, CAST(u AS VARCHAR) AS entity, s,
                   row_number() OVER (ORDER BY s DESC, u ASC) AS rn
            FROM h1
        ),
        auths AS (
            SELECT 'authority' AS kind, t AS entity, s,
                   row_number() OVER (ORDER BY s DESC, t ASC) AS rn
            FROM a2
        )
        SELECT kind, entity, s AS score FROM hubs WHERE rn <= 10
        UNION ALL
        SELECT kind, entity, s AS score FROM auths WHERE rn <= 10
    """,
    category="analytics",
)
def q_hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities on the user↔event-type bipartite
    graph, two UNNORMALIZED iterations: a1 = in-degree, h1 = Σ a1 over
    a user's types, a2 = Σ h1 over a type's users — every score an
    exact integer (normalizing each round would make the result a
    float accumulation whose summation order differs across engines;
    unnormalized HITS has the same ranking). Top-10 each side.

    Scale: edges are the DISTINCT (user, type) pairs (one combinable
    dedup), each iteration is one broadcast-or-shuffle equi-join + one
    combinable integer aggregate — the standard bulk-synchronous graph
    step. Top-10s are TakeOrdered prunes, never a global sort."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("user_id", "event_type").distinct()
    a1 = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("s"))
    h1 = (
        e.join(F.broadcast(a1), "event_type")
        .groupBy("user_id")
        .agg(F.sum("s").cast("bigint").alias("s"))
    )
    a2 = (
        e.join(h1, "user_id")
        .groupBy("event_type")
        .agg(F.sum("s").cast("bigint").alias("s"))
    )
    hubs = (
        h1.orderBy(F.col("s").desc(), F.col("user_id").asc())
        .limit(10)
        .select(
            F.lit("hub").alias("kind"),
            F.col("user_id").cast("string").alias("entity"),
            F.col("s").alias("score"),
        )
    )
    auths = (
        a2.select(
            F.lit("authority").alias("kind"),
            F.col("event_type").alias("entity"),
            F.col("s").alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("entity").asc())
        .limit(10)
    )
    return hubs.unionByName(auths)


# ---------------------------------------------------------------------------
# Nucleus (top-p) vocabulary truncation per language


@register(
    "q_vocab_nucleus",
    oracle="""
        WITH tf AS (
            SELECT lang, t.term, count(*) AS n
            FROM documents,
                 LATERAL (SELECT unnest(string_split(text, ' ')) AS term) AS t
            GROUP BY lang, t.term
        ),
        ranked AS (
            SELECT lang, term, n,
                   sum(n) OVER (PARTITION BY lang ORDER BY n DESC, term ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                   sum(n) OVER (PARTITION BY lang) AS total,
                   row_number() OVER (PARTITION BY lang
                       ORDER BY n DESC, term ASC) AS rn,
                   count(*) OVER (PARTITION BY lang) AS n_terms
            FROM tf
        )
        SELECT lang,
               CAST(any_value(n_terms) AS BIGINT) AS n_terms,
               CAST(count(*) AS BIGINT) AS n_nucleus,
               round(count(*) * 1.0 / any_value(n_terms), 4) AS nucleus_frac,
               round(max(cum) * 1.0 / any_value(total), 4) AS covered_mass
        FROM ranked
        WHERE cum - n < 0.8 * total
        GROUP BY lang
    """,
    category="llm-text",
)
def q_vocab_nucleus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NUCLEUS (top-p) vocabulary per language: the smallest
    frequency-ranked term prefix covering 80% of the token mass —
    the vocabulary-truncation dial (tokenizer sizing, tail-pruning)
    in corpus terms. A term is in the nucleus iff the mass BEFORE it
    is < 0.8·total (exclusive-prefix rule: deterministic, includes
    the crossing term). The per-lang rank + running mass is the
    GROUPED STITCH (a 5-value PARTITION BY over vocab grain would
    serialize a language's whole vocabulary on one reducer);
    integer token counts, floats only in the final ratios."""
    from builder_spark.operators.partitioning import stitched_running

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("lang", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("n"))
        # stitched order key must be a bare column: descending
        # frequency == ascending negated frequency
        .withColumn("neg_n", -F.col("n"))
    )
    ranked = stitched_running(
        tf,
        ["neg_n", "term"],
        running={"cum": "n"},
        rank_name="rn",
        partition_cols=["lang"],
        with_totals=True,
    )
    return (
        ranked.filter(F.col("cum") - F.col("n") < 0.8 * F.col("cum_total"))
        .groupBy("lang")
        .agg(
            F.any_value("rn_total").cast("bigint").alias("n_terms"),
            F.count(F.lit(1)).cast("bigint").alias("n_nucleus"),
            F.round(F.count(F.lit(1)) * 1.0 / F.any_value("rn_total"), 4).alias(
                "nucleus_frac"
            ),
            F.round(F.max("cum") * 1.0 / F.any_value("cum_total"), 4).alias(
                "covered_mass"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Join-key skew diagnostics


@register(
    "q_join_key_skew",
    oracle="""
        WITH kc AS (
            SELECT l_orderkey, count(*) AS n FROM lineitem GROUP BY l_orderkey
        ),
        coc AS (SELECT n, count(*) AS keys FROM kc GROUP BY n),
        tot AS (SELECT CAST(sum(keys) AS BIGINT) AS n_keys,
                       CAST(sum(n * keys) AS BIGINT) AS n_rows FROM coc),
        ranked AS (
            SELECT n, keys,
                   sum(keys) OVER (ORDER BY n ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM coc
        )
        SELECT tot.n_keys, tot.n_rows,
               CAST((SELECT max(n) FROM coc) AS BIGINT) AS max_rows_per_key,
               CAST((SELECT min(n) FROM ranked
                     WHERE cum >= (99 * tot.n_keys + 99) // 100) AS BIGINT)
                   AS p99_rows_per_key,
               round(tot.n_rows * 1.0 / tot.n_keys, 4) AS avg_rows_per_key,
               round((SELECT max(n) FROM coc) * tot.n_keys * 1.0 / tot.n_rows, 4)
                   AS skew_factor
        FROM tot
        -- empty fact table: match Spark's grouped 0-row shape
        WHERE tot.n_keys IS NOT NULL
    """,
    category="analytics",
)
def q_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-KEY SKEW report for the orders⨝lineitem key: keys, rows,
    max and exact-p99 rows-per-key, mean, and the skew factor
    (max/mean) — the diagnostic that decides between a plain shuffle
    join, AQE skew splitting, and salting BEFORE the join runs. The
    per-key counts aggregate to a COUNT-OF-COUNTS table (bounded by
    the max group size, not key cardinality), so the exact p99 is a
    cumsum over a tiny domain — never a percentile over billions of
    keys."""
    l = load_table(spark, sf_dir, "lineitem")
    kc = l.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n"))
    coc = kc.groupBy("n").agg(F.count(F.lit(1)).alias("keys"))
    w_cum = Window.orderBy("n").rowsBetween(Window.unboundedPreceding, 0)
    total = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = coc.select(
        "n",
        "keys",
        F.sum("keys").over(w_cum).alias("cum"),
        F.sum("keys").over(total).cast("bigint").alias("n_keys"),
        F.sum(F.col("n") * F.col("keys")).over(total).cast("bigint").alias("n_rows"),
        F.max("n").over(total).cast("bigint").alias("max_rows_per_key"),
    )
    return (
        ranked.filter(
            F.col("cum") >= F.expr("(99 * n_keys + 99) div 100")
        )
        .groupBy("n_keys", "n_rows", "max_rows_per_key")
        .agg(F.min("n").cast("bigint").alias("p99_rows_per_key"))
        .select(
            "n_keys",
            "n_rows",
            "max_rows_per_key",
            "p99_rows_per_key",
            F.round(F.col("n_rows") * 1.0 / F.col("n_keys"), 4).alias(
                "avg_rows_per_key"
            ),
            F.round(
                F.col("max_rows_per_key") * F.col("n_keys") * 1.0 / F.col("n_rows"), 4
            ).alias("skew_factor"),
        )
    )


# ---------------------------------------------------------------------------
# Rolling exact median (bounded-frame order statistic)


@register(
    "q_rolling_median",
    oracle="""
        WITH v AS (
            SELECT user_id, event_id, ts,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'
        ),
        r AS (
            SELECT user_id, event_id, cents,
                   list_sort(list(cents) OVER w) AS win,
                   count(*) OVER w AS k
            FROM v
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                         ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
        )
        SELECT user_id, event_id, cents,
               round(CASE WHEN k % 2 = 1 THEN win[CAST((k + 1) // 2 AS INT)] * 1.0
                          ELSE (win[CAST(k // 2 AS INT)]
                                + win[CAST(k // 2 + 1 AS INT)]) / 2.0 END
                     / 100.0, 4) AS rolling_median
        FROM r
    """,
    category="window",
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING EXACT MEDIAN of purchase value per user over the last
    10 purchases — the robust moving-location signal (a moving MEAN
    chases one outlier; the median doesn't). The frame is BOUNDED
    (10 rows), so collecting it into a sorted array is O(k log k)
    per row at ANY scale — the legitimate use of a collect inside a
    window (unbounded-frame collects are the anti-pattern the audit
    bans). Median arithmetic runs on exact integer cents; both
    engines sort the same 10 ints and average the same two middles."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-9, Window.currentRow)
    )
    win = F.sort_array(F.collect_list("cents").over(w))
    k = F.size(win)
    # element_at wants INT indices; `/` yields double — integer div
    half = ((k + 1) / 2).cast("int")
    lower = (k / 2).cast("int")
    med = F.when(k % 2 == 1, F.element_at(win, half).cast("double")).otherwise(
        (F.element_at(win, lower) + F.element_at(win, lower + 1)) / 2.0
    )
    return v.select(
        "user_id",
        "event_id",
        "cents",
        F.round(med / 100.0, 4).alias("rolling_median"),
    ).drop("ts")


# ---------------------------------------------------------------------------
# Source vocabulary overlap (corpus-mixture diagnostics)


@register(
    "q_source_vocab_overlap",
    oracle="""
        WITH tok AS (
            SELECT DISTINCT source, t.term
            FROM documents,
                 LATERAL (SELECT unnest(string_split(text, ' ')) AS term) AS t
        ),
        sizes AS (SELECT source, count(*) AS sz FROM tok GROUP BY source),
        inter AS (
            SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared
            FROM tok a JOIN tok b ON a.term = b.term AND a.source < b.source
            GROUP BY 1, 2
        )
        SELECT src_a, src_b, CAST(shared AS BIGINT) AS shared,
               round(shared * 1.0 / (sa.sz + sb.sz - shared), 4) AS jaccard,
               round(shared * 1.0 / least(sa.sz, sb.sz), 4) AS containment
        FROM inter
        JOIN sizes sa ON sa.source = src_a
        JOIN sizes sb ON sb.source = src_b
    """,
    category="llm-text",
)
def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise VOCABULARY overlap between sources (Jaccard +
    containment of distinct-term sets) — the corpus-mixture
    diagnostic: two crawls with near-identical vocabularies add
    redundancy, not coverage. The term stream dedups to (source,
    term) ONCE (combinable); the pair grain is source×source (enum-
    bounded), so the common-term join fans out by vocabulary, never
    by corpus size."""
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select("source", F.explode(F.split("text", " ")).alias("term"))
        .distinct()
    )
    sizes = tok.groupBy("source").agg(F.count(F.lit(1)).alias("sz"))
    a = tok.select(F.col("source").alias("src_a"), "term")
    b = tok.select(F.col("source").alias("src_b"), "term")
    inter = (
        a.join(b, "term")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("sz").alias("szb"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("shared").cast("bigint").alias("shared"),
            F.round(
                F.col("shared") * 1.0 / (F.col("sza") + F.col("szb") - F.col("shared")),
                4,
            ).alias("jaccard"),
            F.round(
                F.col("shared") * 1.0 / F.least(F.col("sza"), F.col("szb")), 4
            ).alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# Difference-in-differences (quasi-experimental lift)


@register(
    "q_diff_in_diff",
    oracle="""
        WITH cohort AS (
            SELECT user_id,
                   max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                       AS treated
            FROM events GROUP BY user_id
        ),
        cells AS (
            SELECT c.treated,
                   CASE WHEN e.ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END
                       AS post,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM events e JOIN cohort c USING (user_id)
            GROUP BY 1, 2
        )
        SELECT CAST(sum(n) AS BIGINT) AS n_events,
               round(sum(CASE WHEN treated = 1 AND post = 1
                              THEN cents * 1.0 / n END), 4)
               - round(sum(CASE WHEN treated = 1 AND post = 0
                                THEN cents * 1.0 / n END), 4)
               - (round(sum(CASE WHEN treated = 0 AND post = 1
                                 THEN cents * 1.0 / n END), 4)
                  - round(sum(CASE WHEN treated = 0 AND post = 0
                                   THEN cents * 1.0 / n END), 4))
                   AS did_cents,
               round(sum(CASE WHEN treated = 1 AND post = 1
                              THEN cents * 1.0 / n END), 4) AS t_post,
               round(sum(CASE WHEN treated = 1 AND post = 0
                              THEN cents * 1.0 / n END), 4) AS t_pre,
               round(sum(CASE WHEN treated = 0 AND post = 1
                              THEN cents * 1.0 / n END), 4) AS c_post,
               round(sum(CASE WHEN treated = 0 AND post = 0
                              THEN cents * 1.0 / n END), 4) AS c_pre
        FROM cells
    """,
    category="analytics",
)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES lift estimate: treated = users who
    ever signed up, period split at mid-month; the effect is
    (T_post − T_pre) − (C_post − C_pre) over mean event value — the
    quasi-experimental estimator when randomized assignment isn't
    available (control trend stands in for the counterfactual). Four
    cell means from ONE combinable (treated, post) aggregate; each
    mean is an exact-integer-cents / count division rounded to 4
    before the subtraction, so both engines difference identical
    4-decimal quantities."""
    ev = load_table(spark, sf_dir, "events")
    cohort = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias("treated")
    )
    cells = (
        ev.join(cohort, "user_id")
        .groupBy(
            "treated",
            F.when(
                F.col("ts") >= F.lit("2024-01-16").cast("timestamp"), 1
            ).otherwise(0).alias("post"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
        )
    )

    def cell(tr: int, po: int):
        return F.round(
            F.sum(
                F.when(
                    (F.col("treated") == tr) & (F.col("post") == po),
                    F.col("cents") * 1.0 / F.col("n"),
                )
            ),
            4,
        )

    return cells.agg(
        F.sum("n").cast("bigint").alias("n_events"),
        (cell(1, 1) - cell(1, 0) - (cell(0, 1) - cell(0, 0))).alias("did_cents"),
        cell(1, 1).alias("t_post"),
        cell(1, 0).alias("t_pre"),
        cell(0, 1).alias("c_post"),
        cell(0, 0).alias("c_pre"),
    )


# ---------------------------------------------------------------------------
# Late-interaction retrieval (ColBERT-style MaxSim over sub-vectors)

_LI_SLICES = 8  # 64-dim embedding → 8 slice-vectors of 8 dims

_LI_SLICE_SQL = (
    "list_transform(range(0, 8), i -> "
    "embedding[CAST(i*8+1 AS INT):CAST(i*8+8 AS INT)])"
)
_LI_SNORM_SQL = (
    "list_transform({s}, v -> "
    "sqrt(list_sum(list_transform(v, x -> CAST(x AS DOUBLE) * x))))"
)


@register(
    "q_late_interaction_maxsim",
    oracle=f"""
        WITH c AS (
            SELECT vec_id,
                   {_SD_CELL_SQL} AS cell,
                   {_LI_SLICE_SQL} AS sl,
                   {_LI_SNORM_SQL.format(s=_LI_SLICE_SQL)} AS sn
            FROM embeddings
        ),
        q AS (SELECT * FROM c WHERE vec_id < 5),
        pairs AS (
            SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
                   round(list_sum(list_transform(range(1, 9), qi ->
                       list_max(list_transform(range(1, 9), dj ->
                           list_sum(list_transform(
                               list_zip(q.sl[CAST(qi AS INT)], c.sl[CAST(dj AS INT)]),
                               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                           / (q.sn[CAST(qi AS INT)] * c.sn[CAST(dj AS INT)])))
                   )), 4) AS maxsim
            FROM q JOIN c ON q.cell = c.cell AND c.vec_id <> q.vec_id
        )
        SELECT q_id, cand_id, maxsim,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY maxsim DESC, cand_id ASC) AS rnk
        FROM pairs
        QUALIFY rnk <= 3
    """,
    category="llm-similarity",
)
def q_late_interaction_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATE-INTERACTION retrieval (ColBERT's MaxSim): each vector is
    treated as 8 sub-vectors (8 dims each) and pair relevance is
    Σ_i max_j cos(q_i, d_j) — the multi-vector scoring that beats
    single-vector cosine on fine-grained matches, top-3 per query.
    Candidates confined to the semdedup sign-cells (no all-pairs);
    slice arrays AND their norms are materialized as projection
    columns BEFORE the join (HOF lambdas get no CSE — inlining the
    slice builder would re-slice per sub-pair); the 8×8 sub-cosines
    are fixed-order folds, so both engines compute bit-identical
    doubles, rounded before the grouped_topk rank."""
    from builder_spark.operators.topk import grouped_topk

    e = load_table(spark, sf_dir, "embeddings")
    cell = sum(
        F.when(F.element_at("embedding", d) >= 0, F.lit(1 << (len(_SD_DIMS) - 1 - i))).otherwise(F.lit(0))
        for i, d in enumerate(_SD_DIMS)
    )
    slices = F.transform(
        F.sequence(F.lit(0), F.lit(_LI_SLICES - 1)),
        lambda i: F.slice("embedding", i * 8 + 1, 8),
    )
    c = e.select("vec_id", cell.alias("cell"), slices.alias("sl")).select(
        "vec_id",
        "cell",
        "sl",
        F.transform(
            "sl",
            lambda v: F.sqrt(
                F.aggregate(
                    F.transform(v, lambda x: x.cast("double") * x.cast("double")),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
        ).alias("sn"),
    )
    q = c.select(
        F.col("vec_id").alias("q_id"),
        "cell",
        F.col("sl").alias("qsl"),
        F.col("sn").alias("qsn"),
    ).filter(F.col("q_id") < 5)

    def sub_cos(qi, dj):
        dot = F.aggregate(
            F.zip_with(
                F.element_at("qsl", qi),
                F.element_at("sl", dj),
                lambda x, y: x.cast("double") * y.cast("double"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return dot / (F.element_at("qsn", qi) * F.element_at("sn", dj))

    maxsim = F.round(
        F.aggregate(
            F.sequence(F.lit(1), F.lit(_LI_SLICES)),
            F.lit(0.0),
            lambda acc, qi: acc
            + F.array_max(
                F.transform(
                    F.sequence(F.lit(1), F.lit(_LI_SLICES)),
                    lambda dj: sub_cos(qi, dj),
                )
            ),
        ),
        4,
    )
    pairs = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("cand_id"), maxsim.alias("maxsim"))
    )
    return grouped_topk(
        pairs, ["q_id"], [F.col("maxsim").desc(), F.col("cand_id").asc()], k=3
    ).select("q_id", "cand_id", "maxsim", F.col("rnk"))


# ---------------------------------------------------------------------------
# Search snippet extraction (best query-term-density window)

_SNIP_TERMS = ["spark", "join", "merge"]
_SNIP_W = 10


@register(
    "q_snippet_extraction",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        h AS (
            SELECT doc_id, toks,
                   list_transform(toks, t -> CASE WHEN t IN
                       ({", ".join(repr(t) for t in _SNIP_TERMS)})
                       THEN 1 ELSE 0 END) AS hit
            FROM d
        ),
        wins AS (
            SELECT doc_id,
                   CAST(s.s AS BIGINT) AS start,
                   CAST(list_sum(hit[CAST(s.s AS INT):CAST(s.s AS INT) + {_SNIP_W - 1}])
                        AS BIGINT) AS hits,
                   row_number() OVER (PARTITION BY doc_id
                       ORDER BY list_sum(hit[CAST(s.s AS INT):CAST(s.s AS INT) + {_SNIP_W - 1}])
                                DESC, s.s ASC) AS rn
            FROM h,
                 LATERAL (SELECT unnest(range(1, greatest(len(toks) - {_SNIP_W - 2}, 2)))
                          AS s) AS s
        )
        SELECT doc_id, start, hits FROM wins WHERE rn = 1 AND hits >= 1
    """,
    category="llm-text",
)
def q_snippet_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEARCH SNIPPET selection: per document, the 10-token window
    with the highest query-term density (earliest start wins ties) —
    the result-page excerpt primitive every retrieval stack needs.
    Pure per-row array math: the hit mask is computed ONCE as its own
    projection (no CSE inside HOF lambdas), window sums are bounded
    O(T·10) folds, and the per-doc argmax is an array_max over
    (count, −start) structs — no explode, no shuffle beyond the scan.
    Docs shorter than the window score their whole token list."""
    from builder_spark.operators.partitioning import spread

    # spread: the documents scan is one row group at bench SFs and the
    # O(T·10) interpreted window folds pipelined on it ran as a single
    # 5.5 CPU-s task at sf0.1; on a wide cluster scan this no-ops
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = d.select("doc_id", F.split("text", " ").alias("toks"))
    hit = F.transform(
        "toks",
        lambda t: F.when(t.isin(_SNIP_TERMS), 1).otherwise(0),
    )
    h = toks.select("doc_id", F.size("toks").alias("n"), hit.alias("hit"))
    starts = F.sequence(
        F.lit(1), F.greatest(F.col("n") - (_SNIP_W - 1), F.lit(1))
    )
    best = F.array_max(
        F.transform(
            starts,
            lambda s: F.struct(
                F.aggregate(
                    F.slice("hit", s, _SNIP_W), F.lit(0), lambda acc, x: acc + x
                ).alias("c"),
                (-s).alias("negs"),
            ),
        )
    )
    return (
        h.select("doc_id", best.alias("b"))
        .select(
            "doc_id",
            (-F.col("b.negs")).cast("bigint").alias("start"),
            F.col("b.c").cast("bigint").alias("hits"),
        )
        .filter(F.col("hits") >= 1)
    )


# ---------------------------------------------------------------------------
# Sign-cell purity (bucketing quality audit for the cell family)


@register(
    "q_cell_purity",
    oracle=f"""
        WITH c AS (
            SELECT vec_id, label, {_SD_CELL_SQL} AS cell FROM embeddings
        ),
        cl AS (
            SELECT cell, label, count(*) AS n FROM c GROUP BY cell, label
        ),
        tot AS (SELECT cell, CAST(sum(n) AS BIGINT) AS n_vecs,
                       CAST(max(n) AS BIGINT) AS n_major
                FROM cl GROUP BY cell)
        SELECT CAST(count(*) AS BIGINT) AS n_cells,
               CAST(sum(n_vecs) AS BIGINT) AS n_vecs,
               CAST(min(n_vecs) AS BIGINT) AS min_cell,
               CAST(max(n_vecs) AS BIGINT) AS max_cell,
               round(sum(n_major) * 1.0 / sum(n_vecs), 4) AS purity
        FROM tot
    """,
    category="llm-similarity",
)
def q_cell_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PURITY audit of the 64-sign-cell bucketing the dedup/MNN/
    MaxSim family relies on: overall majority-label mass within cells
    (the cluster-purity metric), plus cell-size balance (min/max) —
    the go/no-go check before trusting cell-confined candidate
    generation. Two combinable aggregates over (cell, label) grain;
    exact integers until the final ratio."""
    e = load_table(spark, sf_dir, "embeddings")
    cell = sum(
        F.when(F.element_at("embedding", d) >= 0, F.lit(1 << (len(_SD_DIMS) - 1 - i))).otherwise(F.lit(0))
        for i, d in enumerate(_SD_DIMS)
    )
    cl = (
        e.select(cell.alias("cell"), "label")
        .groupBy("cell", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cl.groupBy("cell").agg(
        F.sum("n").cast("bigint").alias("n_vecs"),
        F.max("n").cast("bigint").alias("n_major"),
    )
    return tot.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum("n_vecs").cast("bigint").alias("n_vecs"),
        F.min("n_vecs").cast("bigint").alias("min_cell"),
        F.max("n_vecs").cast("bigint").alias("max_cell"),
        F.round(F.sum("n_major") * 1.0 / F.sum("n_vecs"), 4).alias("purity"),
    )
