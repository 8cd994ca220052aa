"""Additional LLM-pipeline text operators: a GRADED deterministic
MinHash (the hash-matchable twin of the rows-only ``q_dedup_fuzzy``,
which uses engine-specific xxhash64), token-window document chunking
(the context-window prep step every training pipeline needs), and a
Zipf-fit corpus diagnostic.

Portability discipline: the MinHash shingle hash is the same charfold
polynomial (acc*31 + codepoint mod 2^25) the SimHash/winnowing family
uses — bit-identical in Spark and DuckDB — and the k permutations are
fixed prime multipliers under the 2^31-1 Mersenne modulus, so products
stay < 2^57 (no BIGINT overflow in either engine).

Scale notes (100 TB): signatures are one explode + one groupBy(doc)
with k min-aggregates (map-side combined → k longs per doc on the
wire); banding joins on (band, band_val) so the all-pairs problem
never materializes; chunking is pure per-row array math that rides
the scan (zero shuffle); the Zipf fit aggregates the token stream
once and windows over |lang|×|vocab| rows only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from builder_spark.catalog import load_table
from builder_spark.functions.hashing import knuth_bucket
from builder_spark.operators.dedup import (
    CHARFOLD_MOD,
    attach_pairs,
    band_candidates,
    charfold_hash,
)
from builder_spark.operators.partitioning import materialize
from builder_spark.operators.topk import grouped_topk
from builder_spark.registry import QUERIES, register
# composite oracles splice q_cosine_topk (llmdata) and q_simhash
# (llmscale) SQL at import time — lazy registry needs the deps explicit
import builder_spark.queries.llmdata  # noqa: E402,F401
import builder_spark.queries.llmscale  # noqa: E402,F401


def _word_grams(text_col, n: int):
    """Distinct n-word grams of a single-space-tokenized text column —
    the same construction both in Spark and (mechanically generated)
    DuckDB SQL, so gram sets are string-identical across engines.

    Returns (tokens_projection, grams_column): callers must project the
    tokens column first (``df.select(..., proj).select(..., grams)``) —
    inlining the split into the transform lambda re-evaluates it per
    element (no CSE inside HOF lambdas; O(len·n) splits per doc)."""
    toks = F.col("_wg_toks")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(0))),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
        )
    )
    return F.split(text_col, " ").alias("_wg_toks"), grams


def _grams_sql(n: int) -> str:
    parts = "||' '||".join(f"string_split(text, ' ')[i+{j}]" for j in range(n))
    return (
        "list_distinct(list_transform("
        f"range(1, greatest(len(string_split(text, ' ')) - {n - 1}, 0) + 1), "
        f"i -> {parts}))"
    )

#: Carter-Wegman permutations h_i(x) = (A[i]*x + B[i]) mod P over the
#: charfold hash (< 2^25). Primes; A[i]*x < 2^27 * 2^25 = 2^52.
_P = 2147483647
_A = [1299721, 15485863, 32452843, 49979687, 67867967, 86028121, 104395301, 122949823]
_B = [7, 131, 523, 1031, 2053, 4099, 8209, 16411]
_K = len(_A)
_BANDS = 4  # 2 rows per band
_MIN_MATCH = 3  # report pairs with >= 3/8 matching signature slots


def _band_buckets() -> list[Column]:
    """Per-band bucket of the graded MinHash banding: band b packs its
    two signature slots s{2b}, s{2b+1} (each < P) into one long."""
    return [F.col(f"s{2 * b}") * F.lit(_P) + F.col(f"s{2 * b + 1}") for b in range(_BANDS)]


def _minhash_oracle() -> str:
    mins = ",\n                   ".join(
        f"min((h * {_A[i]} + {_B[i]}) % {_P}) AS s{i}" for i in range(_K)
    )
    band_case = " ".join(
        f"WHEN {b} THEN s{2 * b} * {_P} + s{2 * b + 1}" for b in range(_BANDS)
    )
    band_vals = ", ".join(str(b) for b in range(_BANDS))
    n_match = " + ".join(f"(CASE WHEN x.s{i} = y.s{i} THEN 1 ELSE 0 END)" for i in range(_K))
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
        pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bk a JOIN bk b ON a.band = b.band AND a.val = b.val
                               AND a.doc_id < b.doc_id
        )
        SELECT p.id_a, p.id_b,
               {n_match} AS n_match,
               round(({n_match}) / {float(_K)}, 4) AS est_jaccard
        FROM pairs p
        JOIN sig x ON x.doc_id = p.id_a
        JOIN sig y ON y.doc_id = p.id_b
        WHERE {n_match} >= {_MIN_MATCH}
    """


@register("q_minhash_banded", oracle=_minhash_oracle(), category="llm-dedup")
def q_minhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MinHash near-dup pairs, fully hash-matchable: the
    graded twin of ``q_dedup_fuzzy``. 8-permutation signatures over
    charfold-hashed 3-word shingles, 4 bands × 2 rows for candidate
    generation, pairs reported when ≥3/8 signature slots agree
    (estimated Jaccard ≥ 0.375).

    Plan: one vectorized Arrow signature stage (numpy charfold + 8
    permutation minima per batch — operators/arrowkern.py; values
    bit-identical to the old array_min/transform expression form,
    which interpreted one lambda per shingle×permutation) →
    ``band_candidates`` (band-explode to 4 rows/doc, self-equi-join on
    (band, bucket), distinct pairs) → signature rejoin
    (``attach_pairs``). No O(n²) stage anywhere."""
    from pyspark.sql.types import LongType, StructField, StructType

    from builder_spark.operators.arrowkern import charfold_sig_gen
    from builder_spark.operators.partitioning import spread

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    # spread BEFORE the fold: the fixture is a single-row-group parquet
    # file (1 scan task), and the char fold is the expensive stage — a
    # hash repartition on doc_id first runs it on every core. At cluster
    # scale the scan is already multi-split and spread no-ops.
    _sig_schema = StructType(
        [StructField("doc_id", LongType())]
        + [StructField(f"s{i}", LongType()) for i in range(_K)]
    )
    # four consumers (band sides a/b + attach_pairs' two signature
    # rejoins): a repartition boundary re-ran the kernel 4 times;
    # materialized, one kernel run, 8 longs per doc.
    sig = materialize(
        spread(d.filter(F.size(toks) >= 3), "doc_id")
        .select("doc_id", "text")
        .mapInArrow(charfold_sig_gen(3, _A, _B, _P, "doc_id"), _sig_schema)
    )
    pairs = band_candidates(sig, "doc_id", _band_buckets())
    n_match = sum(
        F.when(F.col(f"s{i}_a") == F.col(f"s{i}_b"), 1).otherwise(0) for i in range(_K)
    )
    return (
        attach_pairs(pairs, sig, "doc_id", [f"s{i}" for i in range(_K)])
        .select(
            "id_a",
            "id_b",
            n_match.alias("n_match"),
            F.round(n_match / float(_K), 4).alias("est_jaccard"),
        )
        .filter(F.col("n_match") >= _MIN_MATCH)
    )


_CHUNK = 40  # tokens per chunk
_STRIDE = 30  # chunk start step (overlap = CHUNK - STRIDE = 10 tokens)


@register(
    "q_doc_chunking",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks,
                   len(string_split(text, ' ')) AS n
            FROM documents
        ),
        c AS (
            SELECT doc_id, unnest(range(1, n + 1, {_STRIDE})) AS s, toks, n
            FROM t
        )
        SELECT doc_id,
               CAST((s - 1) // {_STRIDE} AS INT) AS chunk_idx,
               CAST(least(CAST({_CHUNK} AS BIGINT), n - s + 1) AS INT) AS n_tokens,
               array_to_string(list_slice(toks, s, s + {_CHUNK - 1}), ' ') AS chunk_text
        FROM c
    """,
    category="llm-pipeline",
)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking for context-length prep: overlapping
    40-token chunks every 30 tokens (10-token overlap), trailing
    partial chunk kept. Pure per-row array expressions — the chunker
    rides the parquet scan with zero shuffle, and at 100 TB it stays
    embarrassingly parallel (explode fan-out ≈ n_tokens/30 per doc).
    chunk_idx derives from the start offset ((s-1)/30), so no
    positional explode state is needed."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    starts = F.sequence(F.lit(1), n, F.lit(_STRIDE))
    return (
        d.select("doc_id", toks.alias("toks"), n.alias("n"), F.explode(starts).alias("s"))
        .select(
            "doc_id",
            ((F.col("s") - 1) / _STRIDE).cast("int").alias("chunk_idx"),
            F.least(F.lit(_CHUNK), F.col("n") - F.col("s") + 1).cast("int").alias("n_tokens"),
            F.array_join(F.slice(F.col("toks"), F.col("s"), _CHUNK), " ").alias("chunk_text"),
        )
    )


@register(
    "q_zipf_slope",
    oracle="""
        WITH tf AS (
            SELECT lang, unnest(string_split(text, ' ')) AS w
            FROM documents
        ),
        freq AS (
            SELECT lang, w, count(*) AS freq FROM tf GROUP BY 1, 2
        ),
        rk AS (
            SELECT lang, freq,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY freq DESC, w ASC) AS rnk
            FROM freq
        )
        SELECT lang,
               round(regr_slope(ln(freq), ln(rnk)), 4) AS zipf_slope,
               round(regr_r2(ln(freq), ln(rnk)), 4) AS zipf_r2,
               count(*) AS n_terms
        FROM rk WHERE rnk <= 100
        GROUP BY lang
    """,
    category="llm-text",
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per language: log-log regression of term
    frequency against frequency rank over the top-100 terms. A corpus
    whose slope is far from ~-1 is a quality signal (templated or
    synthetic text). Rank ties break alphabetically so both engines
    rank identically; ln() inputs are exact integers so the regression
    sums differ only in order → round(·,4). One token-stream shuffle
    (the tf aggregate); the per-lang top-100 then goes through
    ``grouped_topk``'s two-phase prune — a handful of language values
    over a web-scale vocabulary (10⁸+ distinct tokens) would otherwise
    serialize a whole language's vocabulary per reducer; after the
    local prune the final per-lang rank sees ≤ 100·P survivor rows."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("lang", F.explode(F.split(F.col("text"), " ")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return (
        grouped_topk(tf, ["lang"], [F.col("freq").desc(), F.col("w").asc()], 100)
        .groupBy("lang")
        .agg(
            F.round(F.regr_slope(F.log(F.col("freq")), F.log(F.col("rnk"))), 4).alias("zipf_slope"),
            F.round(F.regr_r2(F.log(F.col("freq")), F.log(F.col("rnk"))), 4).alias("zipf_r2"),
            F.count(F.lit(1)).alias("n_terms"),
        )
    )


_BENCH_DOCS = 20  # doc_id < 20 plays the held-out benchmark/eval set
_CONTAM_N = 4  # gram width — the fixture vocab is tiny, so 4-word grams
#               discriminate like the 8-13-grams used on natural text


@register(
    "q_contamination",
    oracle=f"""
        WITH g AS (
            SELECT doc_id, unnest({_grams_sql(_CONTAM_N)}) AS w
            FROM documents
        ),
        bench AS (SELECT DISTINCT w FROM g WHERE doc_id < {_BENCH_DOCS}),
        corpus AS (
            SELECT doc_id, w, count(*) OVER (PARTITION BY doc_id) AS n_grams
            FROM g WHERE doc_id >= {_BENCH_DOCS}
        )
        SELECT c.doc_id,
               count(*) AS n_shared,
               any_value(c.n_grams) AS n_grams,
               round(count(*) / CAST(any_value(c.n_grams) AS DOUBLE), 4)
                   AS contamination_ratio
        FROM corpus c JOIN bench b ON c.w = b.w
        GROUP BY c.doc_id
    """,
    category="llm-pipeline",
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: which training documents share 4-word
    grams with the held-out benchmark set (doc_id < 20 stands in for
    the eval corpus). The benchmark gram set is tiny by construction —
    it BROADCASTS, so the check is a map-side semi-join riding the
    training-corpus scan: no shuffle of the corpus token stream at any
    scale. Per-doc distinct grams are computed once (array_distinct
    before explode) so n_shared counts gram types, not occurrences."""
    d = load_table(spark, sf_dir, "documents")
    _wg_proj, _wg = _word_grams(F.col("text"), _CONTAM_N)
    grams = d.select("doc_id", _wg_proj).select("doc_id", _wg.alias("g"))
    bench = (
        grams.filter(F.col("doc_id") < _BENCH_DOCS)
        .select(F.explode("g").alias("w"))
        .distinct()
    )
    corpus = (
        grams.filter(F.col("doc_id") >= _BENCH_DOCS)
        .withColumn("n_grams", F.size("g"))
        .select("doc_id", "n_grams", F.explode("g").alias("w"))
    )
    return (
        corpus.join(F.broadcast(bench), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.any_value("n_grams").alias("n_grams"),
            F.round(F.count(F.lit(1)) / F.any_value("n_grams").cast("double"), 4).alias(
                "contamination_ratio"
            ),
        )
    )


_PMI_MIN_COUNT = 5


@register(
    "q_pmi_bigrams",
    oracle=f"""
        WITH toks AS (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents
        ),
        uni AS (
            SELECT w, count(*) AS c FROM toks GROUP BY w
        ),
        n1 AS (SELECT sum(c) AS n FROM uni),
        bg AS (
            SELECT unnest(list_transform(
                       range(1, greatest(len(string_split(text, ' ')) - 1, 0) + 1),
                       i -> string_split(text, ' ')[i] || ' ' ||
                            string_split(text, ' ')[i+1])) AS b
            FROM documents
        ),
        bgc AS (SELECT b, count(*) AS c_ab FROM bg GROUP BY b),
        n2 AS (SELECT sum(c_ab) AS n FROM bgc),
        pmi AS (
            SELECT string_split(b, ' ')[1] AS w1,
                   string_split(b, ' ')[2] AS w2,
                   c_ab,
                   round(ln((c_ab * n1.n * n1.n) /
                            CAST(n2.n * ua.c * ub.c AS DOUBLE)), 4) AS pmi
            FROM bgc, n1, n2
            JOIN uni ua ON ua.w = string_split(b, ' ')[1]
            JOIN uni ub ON ub.w = string_split(b, ' ')[2]
            WHERE c_ab >= {_PMI_MIN_COUNT}
        )
        SELECT w1, w2, c_ab, pmi
        FROM pmi
        ORDER BY pmi DESC, w1 ASC, w2 ASC
        LIMIT 20
    """,
    category="llm-text",
)
def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of word bigrams — collocation
    mining (multi-word expressions, boilerplate phrases). PMI =
    ln(P(ab) / (P(a)·P(b))) computed as one exact-integer ratio
    (c_ab·N1²)/(N2·c_a·c_b) — products stay < 2^53 at fixture scale,
    so the only float ops are one division and one ln (note in code:
    at 100 TB token counts, switch to ln-of-factors to avoid bigint
    overflow). Ranking happens AFTER round(·,4) with (w1, w2)
    tie-breaks so a 1-ulp ln() difference between engines cannot
    reorder the top-20. Unigram sides broadcast onto the bigram
    aggregate; the token stream shuffles twice (unigram + bigram
    counts), each map-side combined."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    uni = (
        d.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # bigrams read the MATERIALIZED _toks column: inlining the split
    # into the transform lambda re-evaluates it per element (the
    # charfold_token_hp no-CSE-in-HOF rule; O(len^2) per doc)
    tk = F.col("_toks")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(tk) - 1, F.lit(0))),
        lambda i: F.concat_ws(" ", F.element_at(tk, i), F.element_at(tk, i + 1)),
    )
    bgc = (
        d.select(toks.alias("_toks"))
        .select(F.explode(bigrams).alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= _PMI_MIN_COUNT)
    )
    w_all = Window.partitionBy()
    n1 = uni.agg(F.sum("c").alias("n1"))
    n2_col = F.sum("c_ab").over(w_all)
    # NOTE: n2 must include ALL bigrams, not just frequent ones — count
    # before the min-count filter.
    bgc_all = (
        d.select(toks.alias("_toks"))
        .select(F.explode(bigrams).alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    n2 = bgc_all.agg(F.sum("c_ab").alias("n2"))
    ua = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    return (
        bgc_all.filter(F.col("c_ab") >= _PMI_MIN_COUNT)
        .withColumn("w1", F.split(F.col("b"), " ").getItem(0))
        .withColumn("w2", F.split(F.col("b"), " ").getItem(1))
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .join(F.broadcast(ua), "w1")
        .join(F.broadcast(ub), "w2")
        .select(
            "w1",
            "w2",
            "c_ab",
            F.round(
                F.log(
                    (F.col("c_ab") * F.col("n1") * F.col("n1"))
                    / (F.col("n2") * F.col("c_a") * F.col("c_b")).cast("double")
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(20)
    )


_KNUTH = 2654435761  # 2^32/φ — same constant as q_hash_sample/q_hash_split


@register(
    "q_stratified_sample",
    oracle=f"""
        WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
        t AS (
            SELECT lang, cnt,
                   (SELECT min(cnt) FROM c) * 10000 // cnt AS thresh
            FROM c
        )
        SELECT d.lang,
               any_value(t.cnt) AS n_total,
               any_value(t.thresh) AS thresh,
               CAST(sum(CASE WHEN (CAST(d.doc_id AS HUGEINT) * {_KNUTH})
                             % 4294967296 % 10000 < t.thresh
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
        FROM documents d JOIN t ON d.lang = t.lang
        GROUP BY d.lang
    """,
    category="llm-pipeline",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling to language balance: each
    language keeps ~min_lang_count documents via a per-stratum
    Knuth-hash threshold. The threshold is EXACT integer arithmetic
    (min_cnt·10000 div cnt) so both engines derive identical cut
    points, and membership is a pure hash filter — reproducible across
    runs, engines, and partitionings, no RNG state. At scale: strata
    thresholds are a |langs|-row broadcast; the sample predicate rides
    the corpus scan (at 100 TB keys swap the raw multiply for
    xxhash64 & mask to stay in 64-bit)."""
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    w_all = Window.partitionBy()
    t = c.withColumn("min_cnt", F.min("cnt").over(w_all)).selectExpr(
        "lang", "cnt", "min_cnt * 10000 div cnt AS thresh"
    )
    bucket = knuth_bucket("doc_id", 10000)
    return (
        d.join(F.broadcast(t), "lang")
        .groupBy("lang")
        .agg(
            F.any_value("cnt").alias("n_total"),
            F.any_value("thresh").alias("thresh"),
            F.sum(F.when(bucket < F.col("thresh"), 1).otherwise(0)).alias("n_sampled"),
        )
    )


@register(
    "q_token_entropy",
    oracle="""
        WITH tf AS (
            SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
        ),
        cnt AS (
            SELECT lang, w, count(*) AS c FROM tf GROUP BY 1, 2
        ),
        pl AS (
            SELECT lang, sum(c) AS n, count(*) AS vocab,
                   sum(c * ln(c)) AS clogc
            FROM cnt GROUP BY lang
        )
        SELECT lang, CAST(n AS BIGINT) AS n_tokens, vocab,
               round(ln(n) - clogc / n, 4) AS entropy_nats,
               round((ln(n) - clogc / n) / ln(vocab), 4) AS efficiency
        FROM pl
    """,
    category="llm-text",
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the token distribution per language (nats),
    plus efficiency = H / ln(vocab) — a templated/repetitive corpus
    scores low. Uses the H = ln(N) − Σc·ln(c)/N identity so the
    aggregate is a single combinable sum over the term-frequency
    table; Σc·ln(c) accumulates in engine order (noise ~1e-13 of
    magnitude) and rounds at 4, the same discipline as the graded
    stddev/corr queries."""
    d = load_table(spark, sf_dir, "documents")
    cnt = (
        d.select("lang", F.explode(F.split(F.col("text"), " ")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pl = cnt.groupBy("lang").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum(F.col("c") * F.log("c")).alias("clogc"),
    )
    h = F.log("n") - F.col("clogc") / F.col("n")
    return pl.select(
        "lang",
        F.col("n").alias("n_tokens"),
        "vocab",
        F.round(h, 4).alias("entropy_nats"),
        F.round(h / F.log("vocab"), 4).alias("efficiency"),
    )


@register(
    "q_dedup_keep_best",
    oracle="""
        WITH fp AS (
            SELECT doc_id, n_chars,
                   md5(array_to_string(
                       list_slice(string_split(text, ' '), 1, 10), ' '))
                       AS fingerprint
            FROM documents
        ),
        ranked AS (
            SELECT doc_id, n_chars, fingerprint,
                   row_number() OVER (PARTITION BY fingerprint
                                      ORDER BY n_chars DESC, doc_id ASC) AS rn,
                   count(*) OVER (PARTITION BY fingerprint) AS n_dupes
            FROM fp
        )
        SELECT fingerprint, doc_id AS kept_doc_id, n_chars, n_dupes
        FROM ranked WHERE rn = 1 AND n_dupes >= 2
    """,
    category="llm-dedup",
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware prefix dedup: documents sharing the same leading
    10 words are treated as truncation variants of one source, and the
    BEST copy (longest, then lowest id) is kept instead of an
    arbitrary first — the policy real pipelines want when crawls of
    the same page differ in cutoff. Reports only groups that actually
    had duplicates. Ranking keys are exact integers, so the kept-row
    choice is deterministic; one shuffle on the 16-byte fingerprint,
    never on the text."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("fingerprint").orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    w_cnt = Window.partitionBy("fingerprint")
    fp = F.md5(F.array_join(F.slice(F.split(F.col("text"), " "), 1, 10), " "))
    return (
        d.select("doc_id", "n_chars", fp.alias("fingerprint"))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n_dupes", F.count(F.lit(1)).over(w_cnt))
        .filter((F.col("rn") == 1) & (F.col("n_dupes") >= 2))
        .select("fingerprint", F.col("doc_id").alias("kept_doc_id"), "n_chars", "n_dupes")
    )


@register(
    "q_vec_pairwise",
    oracle="""
        WITH a AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100),
        b AS (SELECT vec_id, embedding FROM embeddings
              WHERE vec_id >= 100 AND vec_id < 200)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_sum(list_transform(range(1, 65),
                   i -> CAST(a.embedding[i] AS DOUBLE)
                        * CAST(b.embedding[i] AS DOUBLE))), 4) AS dot,
               round(sqrt(list_sum(list_transform(range(1, 65),
                   i -> (CAST(a.embedding[i] AS DOUBLE)
                         - CAST(b.embedding[i] AS DOUBLE))
                        * (CAST(a.embedding[i] AS DOUBLE)
                           - CAST(b.embedding[i] AS DOUBLE))))), 4) AS l2_dist,
               round(list_max(list_transform(range(1, 65),
                   i -> abs(CAST(a.embedding[i] AS DOUBLE)
                            - CAST(b.embedding[i] AS DOUBLE)))), 4) AS linf_dist
        FROM a JOIN b ON b.vec_id = a.vec_id + 100
    """,
    category="llm-similarity",
)
def q_vec_pairwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise vector algebra via zip_with: dot product, L2 and
    L∞ distance for aligned embedding pairs (vec i vs vec i+100).
    Both engines traverse the arrays in index order with float→double
    widening, so the accumulation sequence — and hence every double —
    is identical before the round. Per-row array math rides the scan;
    the only join is the aligned-id equi-join."""
    e = load_table(spark, sf_dir, "embeddings")
    a = e.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va")
    )
    b = e.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 200)).select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb")
    )
    da = F.transform(F.col("va"), lambda x: x.cast("double"))
    db = F.transform(F.col("vb"), lambda x: x.cast("double"))
    prod = F.zip_with(da, db, lambda x, y: x * y)
    diff = F.zip_with(da, db, lambda x, y: x - y)
    ssum = lambda arr: F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)
    return (
        a.join(b, F.col("id_b") == F.col("id_a") + 100)
        .select(
            "id_a",
            "id_b",
            F.round(ssum(prod), 4).alias("dot"),
            F.round(F.sqrt(ssum(F.transform(diff, lambda x: x * x))), 4).alias("l2_dist"),
            F.round(F.array_max(F.transform(diff, lambda x: F.abs(x))), 4).alias("linf_dist"),
        )
    )


@register(
    "q_array_setops",
    oracle="""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks,
                   len(string_split(text, ' ')) AS n
            FROM documents
        ),
        h AS (
            SELECT doc_id,
                   list_distinct(list_slice(toks, 1, n // 2)) AS a,
                   list_distinct(list_slice(toks, n // 2 + 1, n)) AS b
            FROM t
        )
        SELECT doc_id,
               coalesce(array_to_string(list_sort(list_distinct(a || b)), ','), '') AS u,
               coalesce(array_to_string(list_sort(list_intersect(a, b)), ','), '') AS i,
               coalesce(array_to_string(list_sort(list_filter(a, x -> NOT list_contains(b, x))), ','), '') AS d,
               CAST(len(list_distinct(a || b)) AS INT) AS n_union,
               CAST(len(list_intersect(a, b)) AS INT) AS n_inter,
               round(len(list_intersect(a, b))
                     / CAST(len(list_distinct(a || b)) AS DOUBLE), 4)
                   AS half_jaccard
        FROM h
    """,
    category="scalar/array",
)
def q_array_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set-algebra battery: union / intersect / except between
    each document's first-half and second-half token sets, plus the
    half-vs-half Jaccard (an intra-document self-similarity signal —
    near 1 means the halves repeat each other). Results are
    array_sort-ed so multiset order can't differ between engines; all
    per-row array math, zero shuffle. Pins Spark array_union/
    array_intersect/array_except dedup semantics against the DuckDB
    list_* equivalents."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    half = (n / 2).cast("int")
    h = d.select(
        "doc_id",
        F.array_distinct(F.slice(toks, 1, half)).alias("a"),
        F.array_distinct(F.slice(toks, half + 1, n - half)).alias("b"),
    )
    union = F.array_union("a", "b")
    inter = F.array_intersect("a", "b")
    return h.select(
        "doc_id",
        # comma-joined strings, not arrays: driver canon cannot hash lists
        F.concat_ws(",", F.array_sort(union)).alias("u"),
        F.concat_ws(",", F.array_sort(inter)).alias("i"),
        F.concat_ws(",", F.array_sort(F.array_except("a", "b"))).alias("d"),
        F.size(union).alias("n_union"),
        F.size(inter).alias("n_inter"),
        F.round(F.size(inter) / F.size(union).cast("double"), 4).alias("half_jaccard"),
    )


_PR_ITERS = 5
_PR_DAMP = 0.85


def _pagerank_oracle(iters: int) -> str:
    its = []
    for k in range(1, iters + 1):
        its.append(f"""
        r{k} AS (
            SELECT n.w,
                   0.15 / (SELECT count(*) FROM nodes)
                   + {_PR_DAMP} * coalesce((
                       SELECT sum(p.pr / d.d)
                       FROM bg e
                       JOIN r{k - 1} p ON p.w = e.src
                       JOIN deg d ON d.src = e.src
                       WHERE e.dst = n.w), 0.0) AS pr
            FROM nodes n
        )""")
    return f"""
        WITH bg AS (
            SELECT DISTINCT string_split(text, ' ')[i] AS src,
                            string_split(text, ' ')[i+1] AS dst
            FROM documents,
                 unnest(range(1, len(string_split(text, ' ')))) t(i)
        ),
        nodes AS (
            SELECT DISTINCT w FROM (
                SELECT src AS w FROM bg UNION ALL SELECT dst FROM bg)
        ),
        deg AS (SELECT src, count(*) AS d FROM bg GROUP BY src),
        r0 AS (
            SELECT w, 1.0 / (SELECT count(*) FROM nodes) AS pr FROM nodes
        ),{",".join(its)}
        SELECT w, round(pr, 4) AS pagerank FROM r{iters}
    """


@register(
    "q_pagerank",
    oracle=_pagerank_oracle(_PR_ITERS),
    category="llm-text",
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the word co-occurrence (bigram) graph, 5 fixed
    iterations, damping 0.85 — TextRank's core, the iterative-
    algorithm showcase beyond connected components. Dangling mass is
    dropped (nodes with no out-edges contribute nothing), a defined
    deterministic variant both engines replay identically; the oracle
    unrolls the iterations as chained CTEs. Per iteration: one
    edge⨝rank join and one dst aggregate — at scale the edge list is
    partitioned by src and ranks broadcast if small (or co-partitioned
    if not), with localCheckpoint every few rounds to cut lineage
    (see the distributed fallback of operators/dedup.py::dedup_clusters
    for the same pattern).
    Float noise stays ~1e-13: ranks are sums of many divisions, so
    round(·,4) cannot sit on a decimal half."""
    d = load_table(spark, sf_dir, "documents")
    # materialized _toks column: inlined in the lambda the split
    # re-evaluates per element (no CSE inside HOF lambdas)
    tk = F.col("_toks")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(tk) - 1, F.lit(0))),
        lambda i: F.struct(
            F.element_at(tk, i).alias("src"), F.element_at(tk, i + 1).alias("dst")
        ),
    )
    edges = (
        d.select(F.split(F.col("text"), " ").alias("_toks"))
        .select(F.explode(bigrams).alias("e"))
        .select("e.src", "e.dst")
        .distinct()
        .repartition(F.col("src"))
    )
    nodes = (
        edges.select(F.col("src").alias("w"))
        .unionByName(edges.select(F.col("dst").alias("w")))
        .distinct()
    )
    n_nodes = nodes.count()  # driver-side scalar: iteration constant
    # empty graph: nodes/edges have 0 rows so every plan below is empty
    # regardless of the seed value — just avoid the Python 1/0
    n_nodes = n_nodes or 1
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    ranks = nodes.withColumn("pr", F.lit(1.0 / n_nodes))
    for _ in range(_PR_ITERS):
        # ranks and deg are vocab-sized — broadcast both so each
        # iteration's joins add ZERO exchange; the only shuffle per
        # round is the map-side-combined dst aggregate (vocab rows).
        contribs = (
            edges.join(F.broadcast(ranks.withColumnRenamed("w", "src")), "src")
            .join(F.broadcast(deg), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("d")).alias("s"))
        )
        ranks = (
            nodes.join(F.broadcast(contribs.withColumnRenamed("dst", "w")), "w", "left")
            .select(
                "w",
                (
                    F.lit(0.15 / n_nodes)
                    + F.lit(_PR_DAMP) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("pr"),
            )
        )
    return ranks.select("w", F.round("pr", 4).alias("pagerank"))


@register(
    "q_lm_perplexity",
    oracle="""
        WITH tf AS (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents
        ),
        lm AS (
            SELECT w, count(*) AS c FROM tf GROUP BY w
        ),
        n_tot AS (SELECT sum(c) AS n FROM lm),
        scored AS (
            SELECT d.doc_id, d.lang,
                   count(*) AS n_toks,
                   sum(ln(lm.c / CAST(n_tot.n AS DOUBLE))) AS ll
            FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
                  FROM documents) d
            JOIN lm ON lm.w = d.w
            CROSS JOIN n_tot
            GROUP BY d.doc_id, d.lang
        )
        SELECT lang,
               count(*) AS n_docs,
               round(avg(-ll / n_toks), 4) AS avg_cross_entropy,
               CAST(sum(CASE WHEN -ll / n_toks > 5.0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_surprising
        FROM scored
        GROUP BY lang
    """,
    category="llm-text",
)
def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM scoring — the statistical ancestor of model-based
    perplexity filtering: each document's per-token cross-entropy
    under the corpus unigram distribution, rolled up per language
    with a high-surprise document count. The LM is a vocab-sized
    broadcast joined onto the exploded token stream; one doc-level
    aggregate then one language rollup. ln() terms sum in engine
    order (~1e-13 noise) and round at 4 — the accepted float
    discipline; the 5.0-nat surprise threshold sits far from any
    observed value's ulp (documents score ~2-4 nats)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("w"))
    lm = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n_tot = lm.agg(F.sum("c").alias("n"))
    scored = (
        toks.join(F.broadcast(lm), "w")
        .crossJoin(F.broadcast(n_tot))
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum(F.log(F.col("c") / F.col("n").cast("double"))).alias("ll"),
        )
    )
    ce = -F.col("ll") / F.col("n_toks")
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(ce), 4).alias("avg_cross_entropy"),
        F.sum(F.when(ce > 5.0, 1).otherwise(0)).alias("n_surprising"),
    )


@register(
    "q_weighted_sample",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang, n_chars,
                   (SELECT max(n_chars) FROM documents) AS mx
            FROM documents
        ),
        s AS (
            SELECT doc_id, lang, n_chars,
                   n_chars * 10000 // mx AS thresh,
                   (CAST(doc_id AS HUGEINT) * {_KNUTH}) % 4294967296 % 10000
                       AS bucket
            FROM t
        )
        SELECT lang,
               count(*) AS n_total,
               CAST(sum(CASE WHEN bucket < thresh THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               CAST(sum(CASE WHEN bucket < thresh THEN n_chars ELSE 0 END)
                   AS BIGINT) AS kept_chars
        FROM s GROUP BY lang
    """,
    category="llm-pipeline",
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic length-weighted sampling: P(keep) ∝ n_chars —
    the upweight-long-documents policy, with zero RNG. Per-doc
    thresholds are exact integer arithmetic (chars·10⁴ div max_chars)
    against the Knuth-hash bucket, so the same documents are kept on
    every engine, run, and partitioning. The max is a 1-row broadcast;
    the filter rides the scan."""
    d = load_table(spark, sf_dir, "documents")
    mx = d.agg(F.max("n_chars").alias("mx"))
    bucket = knuth_bucket("doc_id", 10000)
    kept = F.when(bucket < F.expr("n_chars * 10000 div mx"), 1).otherwise(0)
    return (
        d.crossJoin(F.broadcast(mx))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(kept).alias("n_kept"),
            F.sum(kept * F.col("n_chars")).alias("kept_chars"),
        )
    )


@register(
    "q_label_centroids",
    oracle="""
        WITH u AS (
            SELECT label, i AS dim,
                   CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) AS x
            FROM embeddings, unnest(range(0, 8)) t(i)
        )
        SELECT label, CAST(dim AS INT) AS dim,
               count(*) AS n,
               round(avg(x), 4) AS centroid,
               round(stddev_samp(x), 4) AS spread
        FROM u GROUP BY label, dim
    """,
    category="llm-similarity",
)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroids (first 8 dimensions) with
    per-dimension spread — the class-prototype computation behind
    nearest-centroid classification and embedding-space drift checks.
    Dimensions explode to (label, dim) rows so the centroid is a
    plain combinable aggregate: one shuffle of |rows|×8 scalar
    values, map-side combined; at 64 dims and 100 TB you'd aggregate
    arrays element-wise per partition instead (same result, fewer
    rows), noted here because the fixture width makes explode
    cheaper."""
    e = load_table(spark, sf_dir, "embeddings")
    pairs = e.select(
        "label",
        F.posexplode(F.slice(F.col("embedding"), 1, 8)).alias("dim", "x"),
    ).select("label", "dim", F.col("x").cast("double").alias("x"))
    return pairs.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("x"), 4).alias("centroid"),
        F.round(F.stddev_samp("x"), 4).alias("spread"),
    )


@register(
    "q_dedup_summary",
    oracle=None,  # assembled below by composing the registered oracles
    category="llm-dedup",
)
def q_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus dedup dashboard: one row per dedup family with how much
    it fires — exact-text groups, 10-word-prefix (truncation) groups,
    deterministic-MinHash candidate pairs, SimHash near-dup pairs.
    The operational readout a pipeline owner checks before choosing
    which dedup stage to enable. Like q_ann_recall, the oracle
    composes the REGISTERED family oracles as subqueries, so the
    summary can never disagree with the graded per-family queries.
    Spark side: four independent counts unioned — each subplan is the
    same plan the standalone query runs."""
    from builder_spark.queries.llmscale import q_simhash

    d = load_table(spark, sf_dir, "documents")

    exact_groups = (
        d.groupBy(F.md5("text").alias("f"))
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("exact_text_groups").alias("family"), "n")
    )
    prefix_groups = (
        d.groupBy(
            F.md5(F.array_join(F.slice(F.split(F.col("text"), " "), 1, 10), " ")).alias("f")
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("prefix10_groups").alias("family"), "n")
    )
    minhash_pairs = (
        q_minhash_banded(spark, sf_dir)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("minhash_pairs").alias("family"), "n")
    )
    simhash_pairs = (
        q_simhash(spark, sf_dir)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("simhash_pairs").alias("family"), "n")
    )
    return exact_groups.unionByName(prefix_groups).unionByName(minhash_pairs).unionByName(
        simhash_pairs
    )


def _dedup_summary_oracle() -> str:
    mh = QUERIES["q_minhash_banded"].oracle
    sh = QUERIES["q_simhash"].oracle
    return f"""
        SELECT 'exact_text_groups' AS family,
               count(*) AS n
        FROM (SELECT md5(text) f, count(*) c FROM documents
              GROUP BY 1 HAVING count(*) >= 2)
        UNION ALL
        SELECT 'prefix10_groups',
               count(*)
        FROM (SELECT md5(array_to_string(
                  list_slice(string_split(text, ' '), 1, 10), ' ')) f,
                  count(*) c
              FROM documents GROUP BY 1 HAVING count(*) >= 2)
        UNION ALL
        SELECT 'minhash_pairs', count(*) FROM ({mh})
        UNION ALL
        SELECT 'simhash_pairs', count(*) FROM ({sh})
    """


QUERIES["q_dedup_summary"] = QUERIES["q_dedup_summary"].__class__(
    name="q_dedup_summary",
    fn=QUERIES["q_dedup_summary"].fn,
    oracle=_dedup_summary_oracle(),
    category="llm-dedup",
)


_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TERMS = ["key", "value", "table"]


@register(
    "q_bm25_search",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        ),
        dl AS (
            SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id
        ),
        stats AS (
            SELECT count(*) AS n_docs, avg(len) AS avg_len FROM dl
        ),
        tf AS (
            SELECT doc_id, w, count(*) AS tf FROM tok
            WHERE w IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
            GROUP BY doc_id, w
        ),
        df AS (
            SELECT w, count(*) AS df FROM tf GROUP BY w
        ),
        scored AS (
            SELECT tf.doc_id,
                   sum(
                       ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
                       * tf.tf * ({_BM25_K1} + 1)
                       / (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
                          + {_BM25_B} * dl.len / stats.avg_len))
                   ) AS score
            FROM tf
            JOIN df ON df.w = tf.w
            JOIN dl ON dl.doc_id = tf.doc_id
            CROSS JOIN stats
            GROUP BY tf.doc_id
        )
        SELECT doc_id, round(score, 4) AS bm25
        FROM scored
        ORDER BY round(score, 4) DESC, doc_id ASC
        LIMIT 10
    """,
    category="llm-text",
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (k1=1.2, b=0.75) for a fixed 3-term
    query — the sparse half of every hybrid RAG stack. All formula
    inputs are exact integers (tf, df, doc length, N) plus one avg,
    so both engines evaluate identical doubles; the top-10 ranks
    AFTER round(·,4) with doc_id tie-break. Plan: one token-stream
    aggregate for doc lengths, a term-filtered tf aggregate (the IN
    filter prunes the stream before the shuffle), df and corpus
    stats as tiny broadcasts."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"), F.avg("len").alias("avg_len"))
    tf = (
        tok.filter(F.col("w").isin(_BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    term = idf * F.col("tf") * (_BM25_K1 + 1) / (
        F.col("tf")
        + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("len") / F.col("avg_len"))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(term), 4).alias("bm25"))
    )
    return scored.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()).limit(10)


_RRF_K = 60


@register(
    "q_rrf_fusion",
    oracle=None,  # assembled below from the registered component oracles
    category="llm-text",
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the lexical (BM25 top-10) and dense
    (cosine top-5 for query vector 0) rankings — the standard hybrid-
    search combiner: score(d) = Σ 1/(60 + rank_d). Ranks are exact
    ints from both graded components, so fusion arithmetic is
    identical everywhere; missing-from-one-list documents contribute
    only their present rank (no imputation). The oracle composes the
    two registered oracles — fusion can never disagree with what the
    components grade."""
    bm = (
        q_bm25_search(spark, sf_dir)
        .select("doc_id", F.row_number().over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))).alias("r_lex"))
    )
    from builder_spark.operators.similarity import brute_force_topk

    e = load_table(spark, sf_dir, "embeddings")
    dense = (
        brute_force_topk(e.filter(F.col("vec_id") == 0), e, k=5)
        .select(F.col("vec_id").alias("doc_id"), F.col("rank").alias("r_dense"))
    )
    fused = bm.join(dense, "doc_id", "full").select(
        "doc_id",
        F.round(
            F.coalesce(1.0 / (_RRF_K + F.col("r_lex")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("r_dense")), F.lit(0.0)),
            4,
        ).alias("rrf"),
        "r_lex",
        "r_dense",
    )
    return fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc()).limit(10)


def _rrf_oracle() -> str:
    bm = QUERIES["q_bm25_search"].oracle
    cos = QUERIES["q_cosine_topk"].oracle
    return f"""
        WITH lex AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r_lex
            FROM ({bm})
        ),
        dense AS (
            SELECT vec_id AS doc_id, rank AS r_dense
            FROM ({cos}) WHERE q_id = 0
        )
        SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id,
               round(coalesce(1.0 / ({_RRF_K} + lex.r_lex), 0.0)
                     + coalesce(1.0 / ({_RRF_K} + dense.r_dense), 0.0), 4)
                   AS rrf,
               lex.r_lex, dense.r_dense
        FROM lex FULL JOIN dense ON lex.doc_id = dense.doc_id
        ORDER BY rrf DESC, doc_id ASC
        LIMIT 10
    """


QUERIES["q_rrf_fusion"] = QUERIES["q_rrf_fusion"].__class__(
    name="q_rrf_fusion",
    fn=QUERIES["q_rrf_fusion"].fn,
    oracle=_rrf_oracle(),
    category="llm-text",
)


@register(
    "q_degree_distribution",
    oracle="""
        WITH bg AS (
            SELECT DISTINCT string_split(text, ' ')[i] AS src,
                            string_split(text, ' ')[i+1] AS dst
            FROM documents,
                 unnest(range(1, len(string_split(text, ' ')))) t(i)
        ),
        deg AS (
            SELECT src, count(*) AS d FROM bg GROUP BY src
        )
        SELECT d AS degree, count(*) AS n_nodes,
               CAST(sum(count(*)) OVER (ORDER BY d DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_nodes_at_least
        FROM deg GROUP BY d
    """,
    category="llm-text",
)
def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-degree distribution of the word co-occurrence graph with a
    complementary cumulative count (how many nodes have degree ≥ d) —
    the graph-shape diagnostic behind hub detection and PageRank
    convergence estimates, all exact integers. Edge dedup is one
    shuffle; the distribution and its cumulative run over ≤|distinct
    degrees| rows."""
    d = load_table(spark, sf_dir, "documents")
    # materialize the split ONCE as its own projection column — inlined
    # in the transform lambda it re-evaluates per sequence element
    # (O(len^2) per doc; the charfold_token_hp no-CSE-in-HOF rule)
    toks = F.col("_toks")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda i: F.struct(
            F.element_at(toks, i).alias("src"), F.element_at(toks, i + 1).alias("dst")
        ),
    )
    edges = (
        d.select(F.split(F.col("text"), " ").alias("_toks"))
        .select(F.explode(bigrams).alias("e"))
        .select("e.src", "e.dst")
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    dist = deg.groupBy("d").agg(F.count(F.lit(1)).alias("n_nodes"))
    w = Window.orderBy(F.col("d").desc()).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return dist.select(
        F.col("d").alias("degree"),
        "n_nodes",
        F.sum("n_nodes").over(w).alias("n_nodes_at_least"),
    )


@register(
    "q_minhash_calibration",
    oracle=None,  # assembled below: composes q_minhash_banded + exact Jaccard
    category="llm-dedup",
)
def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality calibration: for every MinHash candidate pair,
    compare the 8-slot Jaccard ESTIMATE against the exact shingle-set
    Jaccard — mean signed error, mean absolute error, worst
    overestimate. The report that tells you whether k=8 permutations
    are enough before scaling the sketch to the full corpus. Exact
    Jaccard runs ONLY on the candidate pairs (|candidates| ·
    array_intersect, never all pairs). Oracle composes the registered
    q_minhash_banded oracle with the same 3-word-shingle set math."""
    pairs = q_minhash_banded(spark, sf_dir).select("id_a", "id_b", "est_jaccard")
    d = load_table(spark, sf_dir, "documents")
    _wg_proj, _wg = _word_grams(F.col("text"), 3)
    sh = d.select("doc_id", _wg_proj).select("doc_id", _wg.alias("g"))
    inter = F.size(F.array_intersect("g_a", "g_b"))
    union = F.size("g_a") + F.size("g_b") - inter
    scored = attach_pairs(pairs, sh, "doc_id", ["g"]).select(
        "est_jaccard", (inter / union.cast("double")).alias("exact_j")
    )
    err = F.col("est_jaccard") - F.col("exact_j")
    return scored.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg(err), 4).alias("mean_err"),
        F.round(F.avg(F.abs(err)), 4).alias("mean_abs_err"),
        F.round(F.max(err), 4).alias("max_overestimate"),
    )


def _minhash_calibration_oracle() -> str:
    mh = QUERIES["q_minhash_banded"].oracle
    grams = _grams_sql(3)
    return f"""
        WITH pairs AS (
            SELECT id_a, id_b, est_jaccard FROM ({mh})
        ),
        sh AS (
            SELECT doc_id, {grams} AS g FROM documents
        ),
        scored AS (
            SELECT p.est_jaccard,
                   len(list_intersect(a.g, b.g))
                   / CAST(len(a.g) + len(b.g)
                          - len(list_intersect(a.g, b.g)) AS DOUBLE) AS exact_j
            FROM pairs p
            JOIN sh a ON a.doc_id = p.id_a
            JOIN sh b ON b.doc_id = p.id_b
        )
        SELECT count(*) AS n_pairs,
               round(avg(est_jaccard - exact_j), 4) AS mean_err,
               round(avg(abs(est_jaccard - exact_j)), 4) AS mean_abs_err,
               round(max(est_jaccard - exact_j), 4) AS max_overestimate
        FROM scored
    """


QUERIES["q_minhash_calibration"] = QUERIES["q_minhash_calibration"].__class__(
    name="q_minhash_calibration",
    fn=QUERIES["q_minhash_calibration"].fn,
    oracle=_minhash_calibration_oracle(),
    category="llm-dedup",
)


#: Count-min sketch geometry: 3 depth rows × 256 counters. Row hashes
#: are affine transforms of the engine-portable charfold value modulo
#: the Mersenne prime 2^31−1, so both engines compute identical buckets
#: in exact int64 arithmetic (max product 1031·2^25 < 2^36).
_CMS_PLANES = [(31, 7), (131, 51), (1031, 97)]
_CMS_P = 2_147_483_647
_CMS_W = 256


def _cms_oracle() -> str:
    charfold = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT),"
        " list_transform(range(1, length(w) + 1),"
        " j -> CAST(ascii(substr(w, CAST(j AS INT), 1)) AS BIGINT))),"
        f" (a, b) -> (a*31 + b) % {CHARFOLD_MOD})"
    )
    case = " ".join(
        f"WHEN {d} THEN {a} * h + {b}" for d, (a, b) in enumerate(_CMS_PLANES)
    )
    return f"""
        WITH tok AS (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents
        ),
        tf AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        cf AS (SELECT w, c, {charfold} AS h FROM tf),
        wb AS (
            SELECT w, c, d.d AS d,
                   ((CASE d.d {case} END) % {_CMS_P}) % {_CMS_W} AS bucket
            FROM cf CROSS JOIN (VALUES (0), (1), (2)) d(d)
        ),
        counters AS (
            SELECT d, bucket, CAST(sum(c) AS BIGINT) AS total
            FROM wb GROUP BY d, bucket
        ),
        est AS (
            SELECT w, min(c) AS c, min(total) AS est
            FROM wb JOIN counters USING (d, bucket)
            GROUP BY w
        )
        SELECT w AS word,
               CAST(c AS BIGINT) AS n_exact,
               CAST(est AS BIGINT) AS cms_est,
               CAST(est - c AS BIGINT) AS overestimate
        FROM est
        QUALIFY row_number() OVER (ORDER BY c DESC, w ASC) <= 10
    """


@register("q_heavy_hitters_cms", oracle=_cms_oracle(), category="llm-text")
def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters: estimate the top-10 token counts
    from a 3×256 counter array and report the overestimate vs truth.
    The sketch is THE streaming/mergeable answer to "top terms over
    100 TB": counters are a fixed 3·256-cell array regardless of corpus
    size, partial counters merge by cell-wise addition (one combinable
    aggregate — map-side combined here), and est(w) = min over rows of
    counter[h_d(w)] ≥ true(w) always (one-sided error). Everything is
    exact int64 arithmetic on the charfold hash, so the DuckDB oracle
    reproduces the sketch bit-for-bit — the estimates themselves are
    graded, not just the true counts. Counters build from the term-
    frequency table (identical totals, vocab-sized input) rather than
    the raw token stream."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
    tf = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    cf = tf.withColumn("h", charfold_hash("w"))
    wb = cf.select(
        "w",
        "c",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(di).alias("d"),
                        (
                            ((F.lit(a) * F.col("h") + F.lit(b)) % _CMS_P) % _CMS_W
                        ).alias("bucket"),
                    )
                    for di, (a, b) in enumerate(_CMS_PLANES)
                ]
            )
        ).alias("db"),
    ).select("w", "c", F.col("db.d").alias("d"), F.col("db.bucket").alias("bucket"))
    counters = wb.groupBy("d", "bucket").agg(F.sum("c").alias("total"))
    est = (
        wb.join(F.broadcast(counters), ["d", "bucket"])
        .groupBy("w")
        .agg(F.min("c").alias("c"), F.min("total").alias("est"))
    )
    # top-10 via orderBy().limit() — TakeOrderedAndProject merges
    # per-partition heaps, so the vocab-sized estimate table is never
    # serialized through one reducer (same rows as the oracle's
    # QUALIFY: (c DESC, w ASC) is a total order)
    return (
        est.orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(10)
        .select(
            F.col("w").alias("word"),
            F.col("c").cast("bigint").alias("n_exact"),
            F.col("est").cast("bigint").alias("cms_est"),
            (F.col("est") - F.col("c")).cast("bigint").alias("overestimate"),
        )
    )


#: Bloom geometry: 128 words × 63 usable bits (sign bit never set, so
#: int64 shift semantics can't diverge between engines), k=3 affine
#: hashes over the member key modulo the Mersenne prime 2^31−1.
_BLOOM_M = 128 * 63


def _bloom_oracle() -> str:
    case = " ".join(
        f"WHEN {d} THEN {a} * {{key}} + {b}"
        for d, (a, b) in enumerate(_CMS_PLANES)
    )
    h = f"((CASE d.d {case} END) % {_CMS_P}) % {_BLOOM_M}"
    return f"""
        WITH members AS (
            SELECT DISTINCT o_custkey AS k FROM orders
            WHERE o_orderpriority = '1-URGENT'
        ),
        mb AS (
            SELECT {h.format(key="k")} AS h
            FROM members CROSS JOIN (VALUES (0), (1), (2)) d(d)
        ),
        fw AS (
            SELECT h // 63 AS word, bit_or(CAST(1 AS BIGINT) << (h % 63)) AS bits
            FROM mb GROUP BY 1
        ),
        pb AS (
            SELECT c_custkey, c_mktsegment, {h.format(key="c_custkey")} AS h
            FROM customer CROSS JOIN (VALUES (0), (1), (2)) d(d)
        ),
        pr AS (
            SELECT c_custkey, c_mktsegment,
                   min(CASE WHEN fw.bits IS NOT NULL
                             AND (fw.bits & (CAST(1 AS BIGINT) << (h % 63))) != 0
                            THEN 1 ELSE 0 END) AS hit
            FROM pb LEFT JOIN fw ON fw.word = h // 63
            GROUP BY 1, 2
        ),
        fin AS (
            SELECT pr.c_mktsegment, pr.hit,
                   CASE WHEN m.k IS NOT NULL THEN 1 ELSE 0 END AS is_m
            FROM pr LEFT JOIN members m ON m.k = pr.c_custkey
        )
        SELECT c_mktsegment,
               count(*) AS n_customers,
               CAST(sum(hit) AS BIGINT) AS n_bloom_hits,
               CAST(sum(is_m) AS BIGINT) AS n_members,
               CAST(sum(CASE WHEN hit = 1 AND is_m = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_false_pos,
               CAST(sum(CASE WHEN hit = 0 AND is_m = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_false_neg
        FROM fin
        GROUP BY c_mktsegment
    """


def _mask() -> "F.Column":
    """``1 << bit`` as int64. Built via SQL shiftleft: the Python
    F.shiftleft only takes a literal shift count, the SQL form shifts
    by a column. (Function, not module constant: F.expr needs a live
    SparkContext, and this module imports before any session exists.)"""
    return F.expr("shiftleft(cast(1 as bigint), bit)")


def _bloom_hashes(key_col) -> "list":
    """The k (word, bit) probe pairs for one key — exact int64."""
    out = []
    for di, (a, b) in enumerate(_CMS_PLANES):
        h = ((F.lit(a) * key_col + F.lit(b)) % _CMS_P) % _BLOOM_M
        out.append(
            F.struct(
                F.floor(h / 63).cast("long").alias("word"),
                (h % 63).cast("int").alias("bit"),
            )
        )
    return out


@register("q_bloom_membership", oracle=_bloom_oracle(), category="llm-pipeline")
def q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter approximate membership: build an 8064-bit filter
    (128 int64 words, k=3) over the urgent-order customer keys, probe
    EVERY customer, and report per-segment hit/member/false-positive/
    false-negative counts — n_false_neg is structurally zero (the
    one-sided Bloom guarantee) and the oracle replays the identical
    filter bit-for-bit, so the sketch itself is graded. This is the
    approximate-membership family (HLL=distinct, CMS=frequency,
    GK=quantiles, Bloom=membership): at 100 TB the filter is a fixed
    128-word array built with ONE combinable bit_or aggregate and
    broadcast to the probe scan — the shape of runtime join pruning
    (ship the filter, not the key set)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    members = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    mb = members.select(F.explode(F.array(*_bloom_hashes(F.col("k")))).alias("wm"))
    filter_words = (
        mb.select("wm.word", "wm.bit")
        .withColumn("mask", _mask())
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )
    pb = (
        c.select(
            "c_custkey",
            "c_mktsegment",
            F.explode(F.array(*_bloom_hashes(F.col("c_custkey")))).alias("wm"),
        )
        .select("c_custkey", "c_mktsegment", "wm.word", "wm.bit")
        .withColumn("mask", _mask())
    )
    probed = pb.join(F.broadcast(filter_words), "word", "left")
    hit_d = F.when(
        F.col("bits").isNotNull() & (F.col("bits").bitwiseAND(F.col("mask")) != 0),
        F.lit(1),
    ).otherwise(F.lit(0))
    per_key = probed.groupBy("c_custkey", "c_mktsegment").agg(
        F.min(hit_d).alias("hit")
    )
    fin = per_key.join(
        F.broadcast(members.withColumn("is_m", F.lit(1))),
        F.col("c_custkey") == F.col("k"),
        "left",
    ).select("c_mktsegment", "hit", F.coalesce("is_m", F.lit(0)).alias("is_m"))
    return fin.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("hit").alias("n_bloom_hits"),
        F.sum("is_m").alias("n_members"),
        F.sum(
            F.when((F.col("hit") == 1) & (F.col("is_m") == 0), 1).otherwise(0)
        ).alias("n_false_pos"),
        F.sum(
            F.when((F.col("hit") == 0) & (F.col("is_m") == 1), 1).otherwise(0)
        ).alias("n_false_neg"),
    )


@register(
    "q_near_dup_precision_recall",
    oracle=None,  # assembled below: composes q_minhash_banded + q_jaccard_pairs
    category="llm-dedup",
)
def q_near_dup_precision_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval quality of the MinHash candidate generator against
    EXACT ground truth: candidates = banded pairs (est J ≥ 0.375),
    truth = exact shingle-Jaccard pairs at τ = 0.6; report hit count,
    precision (hits/candidates) and recall (hits/true). This is the
    go/no-go number before trusting banding at corpus scale — the
    calibration query grades estimate ERROR, this grades RETRIEVAL.
    Truth verification runs only on bounded pair sets (prefix-filtered
    exact pairs + banded candidates), never all-pairs. Oracle composes
    the two registered oracles, so the metric can never disagree with
    the graded components."""
    # materialize both pair sets: each feeds TWO consumers (its count +
    # the hit semi-join), and exchange reuse only dedupes the SHUFFLE —
    # the exact-Jaccard verification projection sits ABOVE the last
    # exchange and re-ran once per consumer (measured 2 × ~135 CPU-s per
    # invocation at sf0.1).
    cand = materialize(
        q_minhash_banded(spark, sf_dir)
        .select("id_a", "id_b")
    )
    truth = materialize(
        QUERIES["q_jaccard_pairs"]
        .fn(spark, sf_dir)
        .select("id_a", "id_b")
    )
    hits = cand.join(truth, ["id_a", "id_b"], "left_semi")
    n_c = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_t = truth.agg(F.count(F.lit(1)).alias("n_true"))
    n_h = hits.agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        n_c.crossJoin(F.broadcast(n_t))
        .crossJoin(F.broadcast(n_h))
        .select(
            "n_candidates",
            "n_true",
            "n_hits",
            # ANSI /0 guards: dedup finds nothing on a 0/1-doc corpus
            F.round(
                F.col("n_hits")
                / F.when(F.col("n_candidates") != 0, F.col("n_candidates")).cast(
                    "double"
                ),
                4,
            ).alias("precision"),
            F.round(
                F.col("n_hits")
                / F.when(F.col("n_true") != 0, F.col("n_true")).cast("double"),
                4,
            ).alias("recall"),
        )
    )


def _near_dup_pr_oracle() -> str:
    mh = QUERIES["q_minhash_banded"].oracle
    jac = QUERIES["q_jaccard_pairs"].oracle
    return f"""
        WITH cand AS (SELECT id_a, id_b FROM ({mh})),
        truth AS (SELECT id_a, id_b FROM ({jac})),
        hits AS (
            SELECT c.id_a, c.id_b FROM cand c
            WHERE EXISTS (SELECT 1 FROM truth t
                          WHERE t.id_a = c.id_a AND t.id_b = c.id_b)
        ),
        nc AS (SELECT count(*) AS n_candidates FROM cand),
        nt AS (SELECT count(*) AS n_true FROM truth),
        nh AS (SELECT count(*) AS n_hits FROM hits)
        SELECT nc.n_candidates, nt.n_true, nh.n_hits,
               round(nh.n_hits / CAST(nc.n_candidates AS DOUBLE), 4) AS precision,
               round(nh.n_hits / CAST(nt.n_true AS DOUBLE), 4) AS recall
        FROM nc, nt, nh
    """


QUERIES["q_near_dup_precision_recall"] = QUERIES["q_near_dup_precision_recall"].__class__(
    name="q_near_dup_precision_recall",
    fn=QUERIES["q_near_dup_precision_recall"].fn,
    oracle=_near_dup_pr_oracle(),
    category="llm-dedup",
)
