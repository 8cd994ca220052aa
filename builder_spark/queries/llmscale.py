"""Scale-path LLM-data operators: SimHash dedup, LSH-bucketed ANN,
language ID, multimodal binary decode (SURVEY.md §2.B rows 71-74).

Each oracle is GENERATED from the same constants the Spark operators
use (hash modulus, stopword lists, hyperplane literals) so both engines
compute bit-identical values — the SQL is long but mechanical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from builder_spark.catalog import load_table
from builder_spark.functions.hashing import knuth_bucket
from builder_spark.functions.text import STOPWORDS, lang_scores, predict_lang
from builder_spark.operators.dedup import (
    CHARFOLD_MOD,
    SIMHASH_BANDS,
    SIMHASH_BITS,
    jaccard_pairs,
    simhash_near_dupes,
)
from builder_spark.operators.multimodal import attach_binary, extract_payload_features
from builder_spark.operators.partitioning import materialize
from builder_spark.operators.similarity import hyperplanes, lsh_bucketed_topk
from builder_spark.operators.topk import grouped_topk
from builder_spark.registry import QUERIES, register
# composite oracles below splice llmdata-registered SQL (q_cosine_topk,
# q_knn_label) at import time — the lazy registry needs the dep explicit
import builder_spark.queries.llmdata  # noqa: E402,F401

_SIMHASH_MAX_HAMMING = 3


def _simhash_oracle(bits: int, bands: int, max_hamming: int) -> str:
    rpb = bits // bands
    mask = (1 << rpb) - 1
    votes = ",\n                   ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}" for i in range(bits)
    )
    sig = " + ".join(f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits))
    band_vals = ", ".join(str(b) for b in range(bands))
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
        votes AS (
            SELECT doc_id,
                   {votes}
            FROM th GROUP BY doc_id
        ),
        sig AS (SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM votes),
        bk AS (
            SELECT doc_id, simhash, band, (simhash >> (band * {rpb})) & {mask} AS val
            FROM sig CROSS JOIN (SELECT unnest([{band_vals}]) AS band)
        ),
        pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                            a.simhash AS sa, b.simhash AS sb
            FROM bk a JOIN bk b ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
        ),
        ham AS (
            SELECT id_a, id_b,
                   CAST(list_sum(list_transform(range(0, {bits}),
                       i -> (xor(sa, sb) >> CAST(i AS INT)) & 1)) AS INT) AS hamming
            FROM pairs
        )
        SELECT id_a, id_b, hamming FROM ham WHERE hamming <= {max_hamming}
    """


@register(
    "q_simhash",
    oracle=_simhash_oracle(SIMHASH_BITS, SIMHASH_BANDS, _SIMHASH_MAX_HAMMING),
    category="llm-dedup",
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3 over a 24-bit signature of
    3-word shingles), banded candidate generation — no all-pairs.
    Deterministic: the shingle hash is an engine-portable polynomial
    fold, not xxhash."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_near_dupes(d, "doc_id", "text", max_hamming=_SIMHASH_MAX_HAMMING)


def _lang_id_oracle() -> str:
    langs = sorted(STOPWORDS)

    def score(lang: str) -> str:
        words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        return (
            f"len(list_filter(string_split(text, ' '), t -> t IN ({words})))"
            " / CAST(len(string_split(text, ' ')) AS DOUBLE)"
        )

    score_cols = ",\n                   ".join(f"{score(lg)} AS s_{lg}" for lg in langs)
    case = " ".join(
        "WHEN "
        + " AND ".join(f"s_{lg} >= s_{other}" for other in langs if other != lg)
        + f" THEN '{lg}'"
        for lg in langs
    )
    best = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    return f"""
        WITH s AS (
            SELECT doc_id, lang,
                   {score_cols}
            FROM documents
        )
        SELECT doc_id, lang, CASE {case} END AS pred_lang,
               round({best}, 4) AS stop_score,
               CAST(CASE {case} END = lang AS INT) AS is_match
        FROM s
    """


@register("q_lang_id", oracle=_lang_id_oracle(), category="llm-text")
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language ID per document (argmax over per-language
    function-word hit rates, alphabetical tie-break). The fixture text
    is synthetic so predictions skew 'en' — the graded artifact is the
    deterministic scoring, not accuracy."""
    d = load_table(spark, sf_dir, "documents")
    pred, best = predict_lang("text")
    _ = lang_scores  # re-exported for callers wanting raw scores
    return d.select(
        "doc_id",
        "lang",
        pred.alias("pred_lang"),
        F.round(best, 4).alias("stop_score"),
        (pred == F.col("lang")).cast("int").alias("is_match"),
    )


_PLANES = hyperplanes(dim=64, n_planes=8, seed=42)


def _ann_oracle(planes: list[list[float]]) -> str:
    def dot(plane: list[float]) -> str:
        lits = ", ".join(str(x) for x in plane)
        return (
            f"list_sum(list_transform(list_zip(embedding, CAST([{lits}] AS DOUBLE[])),"
            " p -> CAST(p[1] AS DOUBLE) * p[2]))"
        )

    bucket = " + ".join(
        f"(CASE WHEN {dot(plane)} > 0 THEN {1 << p} ELSE 0 END)" for p, plane in enumerate(planes)
    )
    norm = "sqrt(list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * x)))"
    pair_dot = (
        "list_sum(list_transform(list_zip(q.q_emb, c.embedding),"
        " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )
    return f"""
        WITH b AS (
            SELECT vec_id, embedding, CAST({bucket} AS BIGINT) AS bucket
            FROM embeddings
        ),
        q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket FROM b WHERE vec_id < 20),
        pairs AS (
            SELECT q.q_id, c.vec_id,
                   {pair_dot} / ({norm.format(v="q.q_emb")} * {norm.format(v="c.embedding")}) AS sim
            FROM q JOIN b c USING (bucket)
            WHERE c.vec_id <> q.q_id
        )
        SELECT q_id, vec_id, round(sim, 4) AS cos_sim,
               row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rank
        FROM pairs
        QUALIFY rank <= 5
    """


@register("q_ann_lsh", oracle=_ann_oracle(_PLANES), category="llm-similarity")
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN: random-hyperplane (sign-bit) LSH buckets, cosine
    top-5 within the query's bucket. Deterministic ±1 planes (seed 42)
    make this oracle-checkable — rare for ANN. The bucket equi-join is
    the 100 TB path: no K·N pair enumeration."""
    e = load_table(spark, sf_dir, "embeddings")
    return lsh_bucketed_topk(e.filter(F.col("vec_id") < 20), e, k=5, planes=_PLANES)


@register(
    "q_tfidf_top_terms",
    oracle="""
        WITH tok AS (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
            FROM documents
        ),
        dlen AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id),
        tf AS (
            SELECT doc_id, lang, term, count(*) AS n FROM tok GROUP BY doc_id, lang, term
        ),
        dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
        n_docs AS (SELECT count(*) AS n FROM documents),
        scored AS (
            SELECT tf.lang, tf.term,
                   round(sum((tf.n / CAST(dlen.n_tok AS DOUBLE))
                             * ln(n_docs.n / CAST(dft.df AS DOUBLE))), 4) AS tfidf
            FROM tf
            JOIN dlen USING (doc_id)
            JOIN dft USING (term)
            CROSS JOIN n_docs
            GROUP BY tf.lang, tf.term
        )
        SELECT lang, term, tfidf,
               row_number() OVER (PARTITION BY lang ORDER BY tfidf DESC, term ASC) AS rnk
        FROM scored
        QUALIFY rnk <= 5
    """,
    category="llm-text",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per language by corpus-summed
    TF-IDF — the classic text-analytics reduction (term weighting for
    search/quality filtering). Ranking happens AFTER rounding to 4
    decimals so sub-ulp ln() differences between engines cannot flip
    ranks (ties then break on the term itself). Scale: the raw token
    stream is shuffled ONCE (into tf); doc length and document
    frequency both derive from tf — dlen as sum(n) per doc, dft as a
    plain count (tf is already distinct per (doc,term), so no
    countDistinct shuffle of token pairs). df joins tf on term
    (broadcastable — vocabulary ≪ corpus); no all-pairs anywhere."""
    d = load_table(spark, sf_dir, "documents")
    # explicit isnotnull(doc_id): the tf⋈dlen join INFERS this filter
    # onto the tf and dlen scan branches but not onto dft's — the
    # branches then no longer canonicalize equal and the dft token
    # shuffle cannot be AQE-reused. Stating it once at the source makes
    # all three derivations share one token explode. doc_id is the
    # documents PK (non-null), so nothing is dropped.
    # n_tok = size(split(text)) computed BEFORE the explode and carried
    # through the token shuffle (one int per token row): the dlen
    # derivation was a second aggregate over tf plus a doc_id join —
    # two more exchanges/jobs on a vocabulary-scale plan whose stages
    # are all sub-0.2 s (r15 profile: 12 jobs, job count IS the cost).
    # sum(n) per doc over tf == token count == size(split) exactly
    # (split keeps empty strings), so the result is unchanged.
    # n_tok is materialized in its OWN projection below the explode —
    # a single select would hoist size(split(text)) into the projection
    # ABOVE the Generate, re-tokenizing the whole document once per
    # emitted token row (measured: 0.18 s -> 1.2 s scan stage)
    base = d.where(F.col("doc_id").isNotNull()).select(
        "doc_id", "lang", F.split("text", " ").alias("_toks")
    )
    base = base.select(
        "doc_id", "lang", F.size("_toks").alias("n_tok"), F.col("_toks")
    )
    tok = base.select("doc_id", "lang", "n_tok", F.explode("_toks").alias("term"))
    tf = tok.groupBy("doc_id", "lang", "term").agg(
        F.count(F.lit(1)).alias("n"), F.any_value("n_tok").alias("n_tok")
    )
    # the (vacuously true) n >= 1 filter pins `n` into the dft branch:
    # without it column pruning rewrites this branch's inner aggregate
    # to the count-less DISTINCT form, the branch no longer
    # canonicalizes equal to tf's exchange, and AQE re-explodes and
    # re-aggregates the whole token stream a second time (observed in
    # the r15 final plan: 3 Generate branches, ReusedExchange only for
    # dlen). With the filter all three derivations share ONE token
    # shuffle (2 ReusedExchange). n is a group count, so n >= 1 always
    # holds and the result is unchanged.
    # the second (vacuously true) n_tok >= 0 conjunct pins n_tok the
    # same way n >= 1 pins n: both columns stay in the dft branch's
    # projection, so it canonicalizes equal to tf's exchange and AQE
    # reuses the one token shuffle (size(...) is never negative)
    dft = (
        tf.where((F.col("n") >= 1) & (F.col("n_tok") >= 0))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    # corpus size as a LAZY 1-row broadcast, not d.count(): the eager
    # count was a separate Spark job on every query construction (one
    # full extra scan per bench shot); as a crossJoin scalar it rides
    # the same plan and AQE broadcasts one row (r7)
    n_docs = d.agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    scored = (
        tf.join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(n_docs))
        .groupBy("lang", "term")
        .agg(
            F.round(
                F.sum(
                    (F.col("n") / F.col("n_tok").cast("double"))
                    * F.log(F.col("_n_docs") / F.col("df").cast("double"))
                ),
                4,
            ).alias("tfidf")
        )
    )
    # two-phase per-lang top-5: a handful of language values over a
    # vocabulary-grain scored table would serialize a whole language's
    # vocabulary per reducer with a plain PARTITION BY lang window
    return grouped_topk(
        scored, ["lang"], [F.col("tfidf").desc(), F.col("term").asc()], 5
    )


_KNUTH = 2654435761  # 2^32 / φ — multiplicative hash constant


@register(
    "q_hash_sample",
    oracle=f"""
        SELECT o_orderstatus,
               count(*) AS n,
               round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 4) AS sampled_revenue  -- exact cents: 1.3e9
        FROM orders
        WHERE (CAST(o_orderkey AS HUGEINT) * {_KNUTH}) % 4294967296 % 100 < 10
        GROUP BY o_orderstatus
    """,
    category="llm-pipeline",
)
def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% sample via multiplicative (Knuth) key hashing
    — unlike TABLESAMPLE, the same rows are selected on every engine,
    every run, every partitioning, so downstream metrics are
    reproducible and the sample is a pure pushed-down filter (no
    shuffle, no RNG state). At 100 TB key ranges, swap the raw
    multiply for xxhash64 to avoid bigint overflow — here the fixture
    keys keep the product exact."""
    o = load_table(spark, sf_dir, "orders")
    bucket = knuth_bucket("o_orderkey", 100)
    return (
        o.filter(bucket < 10)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(  # exact cents sum (1.3e9 magnitude at sf0.1)
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                .cast("double") / 100.0, 4
            ).alias("sampled_revenue"),
        )
    )


@register(
    "q_hash_split",
    oracle=f"""
        WITH s AS (
            SELECT doc_id, lang, n_chars,
                   CASE WHEN (CAST(doc_id AS HUGEINT) * {_KNUTH}) % 4294967296 % 100 < 80
                        THEN 'train'
                        WHEN (CAST(doc_id AS HUGEINT) * {_KNUTH}) % 4294967296 % 100 < 90
                        THEN 'val' ELSE 'test' END AS split
            FROM documents
        )
        SELECT split, lang, count(*) AS n, round(avg(n_chars), 4) AS avg_chars
        FROM s GROUP BY split, lang
    """,
    category="llm-pipeline",
)
def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by key hash —
    the split every training pipeline needs: stable under reruns,
    re-partitioning, and engine moves (no RNG), and any engine can
    recompute membership from the key alone. Per-split×lang counts
    verify stratification."""
    d = load_table(spark, sf_dir, "documents")
    bucket = knuth_bucket("doc_id", 100)
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("n_chars"), 4).alias("avg_chars"))
    )


@register(
    "q_vec_quantize",
    oracle="""
        WITH q AS (
            SELECT vec_id, label, embedding,
                   127.0 / list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))) AS scale
            FROM embeddings
        ),
        err AS (
            SELECT label,
                   list_sum(list_transform(embedding, x ->
                       abs(CAST(x AS DOUBLE) -
                           least(greatest(floor(CAST(x AS DOUBLE) * scale + 0.5),
                                          -127.0), 127.0) / scale)
                   )) / len(embedding) AS mean_err,
                   list_max(list_transform(embedding, x ->
                       abs(CAST(x AS DOUBLE) -
                           least(greatest(floor(CAST(x AS DOUBLE) * scale + 0.5),
                                          -127.0), 127.0) / scale)
                   )) AS max_err
            FROM q
        )
        SELECT label,
               round(avg(mean_err), 6) AS avg_mean_abs_err,
               round(max(max_err), 6) AS worst_abs_err,
               count(*) AS n_vecs
        FROM err GROUP BY label
    """,
    category="llm-similarity",
)
def q_vec_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization (symmetric, per-vector absmax
    scale) with reconstruction-error stats per label — the 4×
    compression every 100 TB vector store applies before ANN. Pure
    array expressions riding the scan (no UDF, no shuffle until the
    tiny final agg); floor(x+0.5) rounding is engine-portable where
    round() half-mode is not."""
    from builder_spark.functions.vectors import dequantize, quantize_i8

    e = load_table(spark, sf_dir, "embeddings")
    absmax = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    e = e.withColumn("_scale", F.lit(127.0) / absmax)
    q = quantize_i8("embedding", F.col("_scale"))
    deq = dequantize(q, F.col("_scale"))
    abs_err = F.zip_with(
        "embedding", deq, lambda x, d: F.abs(x.cast("double") - d)
    )
    per_vec = e.select(
        "label",
        (F.aggregate(abs_err, F.lit(0.0), lambda a, x: a + x) / F.size("embedding")).alias(
            "_mean_err"
        ),
        F.array_max(abs_err).alias("_max_err"),
    )
    return per_vec.groupBy("label").agg(
        F.round(F.avg("_mean_err"), 6).alias("avg_mean_abs_err"),
        F.round(F.max("_max_err"), 6).alias("worst_abs_err"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


def _winnow_oracle(k: int, w: int, min_containment: float) -> str:
    charfold = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT),"
        " list_transform(range(1, length({s}) + 1),"
        " j -> CAST(ascii(substr({s}, CAST(j AS INT), 1)) AS BIGINT))),"
        f" (a, b) -> (a*31 + b) % {CHARFOLD_MOD})"
    )
    gram = f"substring(text, CAST(i AS INT), {k})"
    return f"""
        WITH gh AS (
            SELECT doc_id,
                   list_transform(range(1, greatest(length(text) - {k - 1}, 1) + 1),
                       i -> {charfold.format(s=gram)}) AS g
            FROM documents
        ),
        fps AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(1, greatest(len(g) - {w - 1}, 1) + 1),
                       j -> list_min(g[CAST(j AS INT):CAST(j AS INT) + {w - 1}])))) AS fp
            FROM gh
        ),
        sizes AS (SELECT doc_id, count(*) AS _n FROM fps GROUP BY doc_id),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fp
            FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b, shared_fp,
               round(shared_fp / CAST(least(sa._n, sb._n) AS DOUBLE), 4) AS containment
        FROM pairs
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE round(shared_fp / CAST(least(sa._n, sb._n) AS DOUBLE), 4) >= {min_containment}
    """


@register(
    "q_winnow_fingerprint",
    oracle=_winnow_oracle(5, 4, 0.8),
    category="llm-dedup",
)
def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting (MOSS winnowing): 5-char
    gram hashes, 4-gram windows, keep each window's min hash; pairs
    sharing ≥80% of the smaller doc's fingerprints. Every substring
    match of ≥8 chars is guaranteed a shared fingerprint while storing
    ~40% of the hashes — the storage/recall dial for 100 TB dedup."""
    from builder_spark.operators.dedup import winnow_containment_pairs

    d = load_table(spark, sf_dir, "documents")
    return winnow_containment_pairs(d, "doc_id", "text", min_containment=0.8)


_NGRAM_CHARFOLD = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(range(1, length({s}) + 1),"
    " j -> CAST(ascii(substr({s}, CAST(j AS INT), 1)) AS BIGINT))),"
    " (a, b) -> (a*31 + b) % 33554432)"
)


@register(
    "q_ngram_jaccard",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id AS _id,
                   unnest(list_distinct(list_transform(
                       range(1, greatest(length(text) - 4, 1) + 1),
                       i -> {_NGRAM_CHARFOLD.format(s="substring(text, CAST(i AS INT), 5)")}
                   ))) AS _g
            FROM documents
        ),
        sizes AS (SELECT _id, count(*) AS _sz FROM tok GROUP BY _id),
        inter AS (
            SELECT a._id AS id_a, b._id AS id_b, count(*) AS _inter
            FROM tok a JOIN tok b ON a._g = b._g AND a._id < b._id
            GROUP BY a._id, b._id
        )
        SELECT id_a, id_b,
               round(_inter / CAST(sa._sz + sb._sz - _inter AS DOUBLE), 4) AS jaccard
        FROM inter
        JOIN sizes sa ON sa._id = id_a
        JOIN sizes sb ON sb._id = id_b
        WHERE round(_inter / CAST(sa._sz + sb._sz - _inter AS DOUBLE), 4) >= 0.8
    """,
    category="llm-dedup",
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-5-gram Jaccard near-dup pairs (≥ 0.8) — the n-gram
    family twin of word-token q_jaccard_pairs: robust to tokenization
    differences and single-word edits. Candidate generation is PREFIX
    FILTERING (rarity-ranked gram prefixes, provably complete for
    J ≥ τ) — the naive common-gram self-join fans out quadratically on
    hot grams (371 s at sf0.1; this plan: seconds). Verification is
    JVM-side array_intersect on candidates only.

    Grams travel as charfold HASHES, not 5-char strings (r6): the text
    decodes to a materialized codepoint array once and each gram folds
    a 5-int slice — no per-gram string allocation, ~4× the gram-stage
    throughput, and every downstream set op compares longs instead of
    strings. Both engines hash identically, so a (rare, 2^-25-scale)
    gram collision affects Spark and the oracle the same way — graded
    parity is exact by construction."""
    from builder_spark.operators.arrowkern import char_gram_items_gen
    from builder_spark.operators.dedup import (
        jaccard_from_sets,
        prefix_filter_candidates,
    )
    from builder_spark.operators.partitioning import spread

    d = load_table(spark, sf_dir, "documents")
    # r15: decode+fold+distinct runs as ONE numpy mapInArrow kernel
    # (the materialized-codepoint expression form still walked an
    # interpreted lambda per character). Prefix candidates, document
    # frequencies, and both verification rejoins all consume `items`
    # (a repartition boundary re-ran the gram kernel SIX times here);
    # materialized, one kernel run, ~200 longs per doc.
    items = materialize(
        spread(d, "doc_id")
        .select(F.col("doc_id").alias("_id"), "text")
        .mapInArrow(char_gram_items_gen(5, "_id"), "_id long, _arr array<long>")
    )
    cands = prefix_filter_candidates(items, 0.8)
    return jaccard_from_sets(items, cands, 0.8)


_IVF_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)
_IVF_NORM = "sqrt(list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * x)))"


@register(
    "q_ann_ivf",
    oracle=f"""
        WITH cents AS (
            SELECT vec_id AS c_id, embedding AS c_emb
            FROM embeddings ORDER BY vec_id ASC LIMIT 16
        ),
        assign AS (
            SELECT e.vec_id, e.embedding, c.c_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_IVF_DOT.format(a="e.embedding", b="c.c_emb")}
                                / ({_IVF_NORM.format(v="e.embedding")} * {_IVF_NORM.format(v="c.c_emb")}) DESC,
                                c.c_id ASC
                   ) AS _r
            FROM embeddings e CROSS JOIN cents c
            QUALIFY _r = 1
        ),
        probes AS (
            SELECT q.vec_id AS q_id, q.embedding AS q_emb, c.c_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_IVF_DOT.format(a="q.embedding", b="c.c_emb")}
                                / ({_IVF_NORM.format(v="q.embedding")} * {_IVF_NORM.format(v="c.c_emb")}) DESC,
                                c.c_id ASC
                   ) AS _r
            FROM embeddings q CROSS JOIN cents c
            WHERE q.vec_id < 20
            QUALIFY _r <= 4
        ),
        pairs AS (
            SELECT p.q_id, a.vec_id,
                   {_IVF_DOT.format(a="p.q_emb", b="a.embedding")}
                   / ({_IVF_NORM.format(v="p.q_emb")} * {_IVF_NORM.format(v="a.embedding")}) AS sim
            FROM probes p JOIN assign a ON p.c_id = a.c_id
            WHERE a.vec_id <> p.q_id
        )
        SELECT q_id, vec_id, round(sim, 4) AS cos_sim,
               row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rank
        FROM pairs
        QUALIFY rank <= 5
    """,
    category="llm-similarity",
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: candidates pre-assigned to nearest-centroid
    cells (16 deterministic centroids = lowest vec_ids), each query
    probes its 4 nearest cells, cosine top-5 within the probed cells.
    The inverted-file twin of q_ann_lsh — cell assignment is a
    broadcast argmax riding the scan, and the probe join is an
    equi-join on cell id (K·N/4 pairs instead of K·N)."""
    from builder_spark.operators.similarity import ivf_topk

    e = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(e.filter(F.col("vec_id") < 20), e, k=5, n_centroids=16, n_probe=4)


_CLUSTER_TAU = 0.95

_JACCARD_PAIRS_CTE = f"""
        tok AS (
            SELECT doc_id AS _id, unnest(list_distinct(string_split(text, ' '))) AS _w
            FROM documents
        ),
        sizes AS (SELECT _id, count(*) AS _sz FROM tok GROUP BY _id),
        inter AS (
            SELECT a._id AS id_a, b._id AS id_b, count(*) AS _inter
            FROM tok a JOIN tok b ON a._w = b._w AND a._id < b._id
            GROUP BY a._id, b._id
        ),
        pairs AS (
            SELECT id_a, id_b
            FROM inter JOIN sizes sa ON sa._id = id_a JOIN sizes sb ON sb._id = id_b
            WHERE round(_inter / CAST(sa._sz + sb._sz - _inter AS DOUBLE), 4) >= {_CLUSTER_TAU}
        )"""


@register(
    "q_dedup_clusters",
    oracle=f"""
        WITH RECURSIVE
        {_JACCARD_PAIRS_CTE},
        bi AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION SELECT id_b, id_a FROM pairs
        ),
        reach (node, r) AS (
            SELECT u, u FROM (SELECT DISTINCT u FROM bi)
            UNION
            SELECT b.u, r.r FROM bi b JOIN reach r ON r.node = b.v
        ),
        labels AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node)
        SELECT doc_id, cluster_id,
               count(*) OVER (PARTITION BY cluster_id) AS cluster_size
        FROM labels
    """,
    category="llm-dedup",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate GROUPS, not just pairs: connected components over
    exact-Jaccard ≥ 0.95 pairs, by a numpy union-find on the driver
    over the collected pairs (one Spark job), or by driver-looped
    min-label propagation when the pairs exceed the operator's edge
    bound. cluster_id = min doc_id = the canonical document a dedup
    pipeline keeps. Oracle: DuckDB recursive CTE reachability."""
    from builder_spark.operators.dedup import dedup_clusters

    d = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(d, "doc_id", "text", threshold=_CLUSTER_TAU)
    labels = dedup_clusters(pairs)
    w = Window.partitionBy("cluster_id")
    return labels.withColumn("cluster_size", F.count(F.lit(1)).over(w))


@register(
    "q_mm_decode",
    oracle="""
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
               CAST(sum(length(text)) AS BIGINT) AS total_cp,
               CAST(sum(list_sum(list_transform(range(1, length(text)+1),
                   i -> ascii(substr(text, CAST(i AS INT), 1))))) AS BIGINT) AS total_cp_sum
        FROM documents
        GROUP BY source
    """,
    category="llm-multimodal",
)
def q_mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload pipeline: text → opaque binary column + metadata
    struct → Arrow-batched mapInPandas feature extraction (the decode
    stub; see operators/multimodal.py) → per-source rollup. Grades the
    real plumbing (schema, batching, declared output schema) with a
    deterministic fake decoder."""
    d = attach_binary(load_table(spark, sf_dir, "documents"))
    feats = extract_payload_features(d, id_col="doc_id", keep_cols=("source",))
    return feats.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bytes").alias("total_bytes"),
        F.sum("n_cp").alias("total_cp"),
        F.sum("cp_sum").alias("total_cp_sum"),
    )


_FRAME_CP = 16  # "frame" = 16 codepoints of the decoded payload
_FRAME_EVERY = 3  # keep every 3rd frame (frame-sampling rate)


@register(
    "q_mm_framesample",
    oracle=f"""
        WITH s AS (
            SELECT doc_id, text, length(text) AS n,
                   unnest(range(1, length(text) + 1,
                                {_FRAME_CP * _FRAME_EVERY})) AS st
            FROM documents
        )
        SELECT doc_id,
               CAST((st - 1) // {_FRAME_CP} AS INT) AS frame_idx,
               CAST(length(substr(text, st, {_FRAME_CP})) AS INT) AS frame_cp,
               CAST(octet_length(encode(substr(text, st, {_FRAME_CP})))
                   AS INT) AS frame_bytes,
               md5(substr(text, st, {_FRAME_CP})) AS frame_md5
        FROM s
    """,
    category="llm-multimodal",
)
def q_mm_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing for video-style payloads: each document
    becomes an opaque binary payload; an Arrow-batched ``mapInPandas``
    decodes it (UTF-8 — the stand-in for a real container demuxer),
    slices fixed-width frames, KEEPS EVERY 3rd (the sampling step a
    video pipeline runs before feature extraction), and emits one row
    per sampled frame with a declared schema (idx, sizes, checksum).
    The decode runs vectorized per Arrow batch in Python — the real
    multimodal hot path — while the oracle replays the same frames
    with string arithmetic. Fan-out is bounded (≈ n_cp/48 rows per
    doc) and embarrassingly parallel; at 100 TB add
    ``repartitionByRange`` on payload size so big media spread evenly
    (see operators/multimodal.py)."""
    import hashlib

    import pandas as pd

    d = attach_binary(load_table(spark, sf_dir, "documents")).select("doc_id", "payload")

    def _frames(batches):
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_cp": [], "frame_bytes": [], "frame_md5": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                text = bytes(payload).decode("utf-8")  # the "decode" step
                for st in range(0, len(text), _FRAME_CP * _FRAME_EVERY):
                    frame = text[st : st + _FRAME_CP]
                    fb = frame.encode("utf-8")
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(st // _FRAME_CP)
                    out["frame_cp"].append(len(frame))
                    out["frame_bytes"].append(len(fb))
                    out["frame_md5"].append(hashlib.md5(fb).hexdigest())
            yield pd.DataFrame(out)

    return d.mapInPandas(
        _frames,
        schema="doc_id bigint, frame_idx int, frame_cp int, frame_bytes int, frame_md5 string",
    )


@register(
    "q_ann_recall",
    oracle=None,  # assembled below — composes the two registered oracles
    category="llm-similarity",
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@5 of the LSH-bucketed index
    against exact brute-force cosine, per query vector — the metric
    that decides whether an approximate index is shippable. Both
    inputs are deterministic (fixed Rademacher planes), so recall is
    exactly reproducible; the oracle literally composes the two
    registered oracle SQLs as subqueries and re-derives it. The join
    is on (q_id, candidate id) over two k·|queries|-row frames —
    negligible at any scale; the expensive parts are the underlying
    top-k queries themselves."""
    from builder_spark.operators.similarity import brute_force_topk

    e = load_table(spark, sf_dir, "embeddings")
    exact = brute_force_topk(e.filter(F.col("vec_id") < 20), e, k=5).select(
        "q_id", F.col("vec_id").alias("e_vid")
    )
    approx = lsh_bucketed_topk(
        e.filter(F.col("vec_id") < 20), e, k=5, planes=_PLANES
    ).select(F.col("q_id").alias("a_qid"), F.col("vec_id").alias("a_vid"))
    hits = exact.join(
        approx,
        (F.col("q_id") == F.col("a_qid")) & (F.col("e_vid") == F.col("a_vid")),
        "left",
    )
    return hits.groupBy("q_id").agg(
        F.count("a_vid").alias("n_hits"),
        F.round(F.count("a_vid") / 5.0, 4).alias("recall_at_5"),
    )


def _ann_recall_oracle() -> str:
    exact = QUERIES["q_cosine_topk"].oracle
    approx = QUERIES["q_ann_lsh"].oracle
    return f"""
        SELECT e.q_id,
               count(a.vec_id) AS n_hits,
               round(count(a.vec_id) / 5.0, 4) AS recall_at_5
        FROM ({exact}) e
        LEFT JOIN ({approx}) a
          ON a.q_id = e.q_id AND a.vec_id = e.vec_id
        GROUP BY e.q_id
    """


# late-bind the composed oracle (both component oracles are registered
# by the time this module's registrations run)
QUERIES["q_ann_recall"] = QUERIES["q_ann_recall"].__class__(
    name="q_ann_recall",
    fn=QUERIES["q_ann_recall"].fn,
    oracle=_ann_recall_oracle(),
    category="llm-similarity",
)


@register(
    "q_mm_resize",
    oracle="""
        WITH r AS (
            SELECT doc_id, source, text,
                   array_to_string(list_transform(
                       range(1, length(text) + 1, 2),
                       i -> substr(text, CAST(i AS INT), 1)), '') AS resized
            FROM documents
        )
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(octet_length(encode(text))) AS BIGINT) AS orig_bytes,
               CAST(sum(octet_length(encode(resized))) AS BIGINT) AS resized_bytes,
               CAST(count(DISTINCT md5(resized)) AS BIGINT) AS distinct_resized
        FROM r
        GROUP BY source
    """,
    category="llm-multimodal",
)
def q_mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing for image-style payloads: binary in → binary out
    through Arrow-batched ``mapInPandas``. The stand-in "resize"
    decodes the payload and keeps every 2nd codepoint (a deterministic
    2:1 downsample the oracle can replay); a real deployment swaps the
    body for PIL thumbnail/resize (see operators/multimodal.py stubs)
    while the graded plumbing — binary columns both directions,
    declared schema, per-source size accounting — stays identical.
    Completes the decode / feature-extract / frame-sample / RESIZE
    quartet. Per-row work, zero shuffle before the rollup."""
    import hashlib

    import pandas as pd

    d = attach_binary(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "source", "payload"
    )

    def _resize(batches):
        for pdf in batches:
            out = {"doc_id": [], "source": [], "orig_b": [], "resized": []}
            for doc_id, source, payload in zip(pdf["doc_id"], pdf["source"], pdf["payload"]):
                text = bytes(payload).decode("utf-8")
                small = text[::2].encode("utf-8")
                out["doc_id"].append(doc_id)
                out["source"].append(source)
                out["orig_b"].append(len(bytes(payload)))
                out["resized"].append(small)
            yield pd.DataFrame(out)

    resized = d.mapInPandas(
        _resize, schema="doc_id bigint, source string, orig_b bigint, resized binary"
    )
    return resized.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("orig_b").alias("orig_bytes"),
        F.sum(F.octet_length("resized")).alias("resized_bytes"),
        F.countDistinct(F.md5("resized")).alias("distinct_resized"),
    )


@register(
    "q_knn_accuracy",
    oracle=None,  # assembled below from the registered q_knn_label oracle
    category="llm-similarity",
)
def q_knn_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation for the 5-NN majority-label predictor:
    per-class precision-style readout — for each TRUE label of the
    held-out queries, how many were predicted correctly. The
    evaluation joins predictions back to ground truth (both
    deterministic) and, like q_ann_recall, its oracle composes the
    registered q_knn_label oracle as a subquery so prediction and
    evaluation can never drift apart."""
    from builder_spark.operators.similarity import knn_majority_label

    e = load_table(spark, sf_dir, "embeddings")
    pred = knn_majority_label(
        e.filter(F.col("vec_id") < 50), e.filter(F.col("vec_id") >= 50), k=5
    ).select("q_id", "pred_label")
    truth = e.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("true_label")
    )
    return (
        truth.join(pred, "q_id")
        .groupBy("true_label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)).alias(
                "n_correct"
            ),
            F.round(
                F.sum(F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0))
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("accuracy"),
        )
    )


QUERIES["q_knn_accuracy"] = QUERIES["q_knn_accuracy"].__class__(
    name="q_knn_accuracy",
    fn=QUERIES["q_knn_accuracy"].fn,
    oracle=f"""
        WITH pred AS ({QUERIES["q_knn_label"].oracle}),
        truth AS (
            SELECT vec_id AS q_id, label AS true_label
            FROM embeddings WHERE vec_id < 50
        )
        SELECT t.true_label,
               count(*) AS n,
               CAST(sum(CASE WHEN p.pred_label = t.true_label
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
               round(sum(CASE WHEN p.pred_label = t.true_label
                              THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 4) AS accuracy
        FROM truth t JOIN pred p ON p.q_id = t.q_id
        GROUP BY t.true_label
    """,
    category="llm-similarity",
)


@register(
    "q_centroid_classify",
    oracle="""
        WITH cen AS (
            SELECT label, i AS dim,
                   avg(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)) AS c
            FROM embeddings, unnest(range(0, 64)) t(i)
            WHERE vec_id >= 50
            GROUP BY label, i
        ),
        q AS (
            SELECT vec_id, label AS true_label, embedding
            FROM embeddings WHERE vec_id < 50
        ),
        dist AS (
            SELECT q.vec_id, q.true_label, cen.label AS cand,
                   round(sum(
                       (CAST(q.embedding[CAST(cen.dim AS INT) + 1] AS DOUBLE)
                        - cen.c)
                       * (CAST(q.embedding[CAST(cen.dim AS INT) + 1] AS DOUBLE)
                          - cen.c)), 4) AS d2
            FROM q CROSS JOIN cen
            GROUP BY q.vec_id, q.true_label, cen.label
        ),
        pred AS (
            SELECT vec_id, true_label, cand AS pred_label
            FROM dist
            QUALIFY row_number() OVER (PARTITION BY vec_id
                                       ORDER BY d2 ASC, cand ASC) = 1
        )
        SELECT true_label,
               count(*) AS n,
               CAST(sum(CASE WHEN pred_label = true_label
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
        FROM pred GROUP BY true_label
    """,
    category="llm-similarity",
)
def q_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid (Rocchio) classification: full-64-dim class
    prototypes from the training split, each query assigned to its
    closest centroid by squared L2; per-class correct counts. The
    cheap-and-cheerful baseline every embedding pipeline compares kNN
    against — O(|classes|) per query instead of O(|train|). The
    argmin ranks AFTER round(d2, 4) with a label tie-break, so the
    ~1e-13 centroid/accumulation noise between engines cannot flip
    the assignment. Centroids are a |classes|×64 broadcast; queries
    stream past."""
    e = load_table(spark, sf_dir, "embeddings")
    train = e.filter(F.col("vec_id") >= 50).select(
        "label", F.posexplode(F.col("embedding")).alias("dim", "x")
    )
    cen = train.groupBy("label", "dim").agg(
        F.avg(F.col("x").cast("double")).alias("c")
    )
    q = e.filter(F.col("vec_id") < 50).select(
        "vec_id",
        F.col("label").alias("true_label"),
        F.posexplode(F.col("embedding")).alias("dim", "qx"),
    )
    dist = (
        q.join(F.broadcast(cen.withColumnRenamed("label", "cand")), "dim")
        .groupBy("vec_id", "true_label", "cand")
        .agg(
            F.round(
                F.sum(
                    (F.col("qx").cast("double") - F.col("c"))
                    * (F.col("qx").cast("double") - F.col("c"))
                ),
                4,
            ).alias("d2")
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("d2").asc(), F.col("cand").asc())
    pred = dist.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return pred.groupBy("true_label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("cand") == F.col("true_label"), 1).otherwise(0)).alias(
            "n_correct"
        ),
    )


@register(
    "q_ndcg_ann",
    oracle=None,  # assembled below from the registered component oracles
    category="llm-similarity",
)
def q_ndcg_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@5 of the LSH-bucketed ANN ranking, per query: graded
    relevance = 6 − exact_rank for documents in the exact top-5 (0
    otherwise), DCG = Σ rel/log2(rank+1) over the ANN list, normalized
    by the ideal DCG of the exact ranking. Completes the retrieval
    eval set (recall@k = set overlap, nDCG = position-weighted). All
    ranks are exact ints; log2 of small int literals is identical
    across engines; round(·,4) last. The oracle composes the two
    registered oracles — same pattern as q_ann_recall."""
    from builder_spark.operators.similarity import brute_force_topk

    e = load_table(spark, sf_dir, "embeddings")
    exact = brute_force_topk(e.filter(F.col("vec_id") < 20), e, k=5).select(
        "q_id", F.col("vec_id").alias("e_vid"), (6 - F.col("rank")).alias("rel")
    )
    approx = lsh_bucketed_topk(
        e.filter(F.col("vec_id") < 20), e, k=5, planes=_PLANES
    ).select(F.col("q_id").alias("a_qid"), F.col("vec_id").alias("a_vid"), F.col("rank").alias("a_rank"))
    dcg = (
        approx.join(
            exact,
            (F.col("a_qid") == F.col("q_id")) & (F.col("a_vid") == F.col("e_vid")),
            "left",
        )
        .groupBy("a_qid")
        .agg(
            F.sum(
                F.coalesce(F.col("rel"), F.lit(0))
                / F.log2(F.col("a_rank") + 1)
            ).alias("dcg")
        )
        .withColumnRenamed("a_qid", "q_id")
    )
    # ideal DCG is a constant: exact ranks 1..5 carry rel 5..1
    import math

    idcg_const = sum((6 - r) / math.log2(r + 1) for r in range(1, 6))
    return dcg.select(
        "q_id",
        F.round(F.col("dcg") / F.lit(idcg_const), 4).alias("ndcg_at_5"),
    )


def _ndcg_oracle() -> str:
    import math

    cos = QUERIES["q_cosine_topk"].oracle
    ann = QUERIES["q_ann_lsh"].oracle
    idcg = sum((6 - r) / math.log2(r + 1) for r in range(1, 6))
    return f"""
        WITH exact AS (
            SELECT q_id, vec_id, 6 - rank AS rel FROM ({cos})
        ),
        approx AS (
            SELECT q_id, vec_id, rank FROM ({ann})
        )
        SELECT a.q_id,
               round(sum(coalesce(e.rel, 0) / log2(a.rank + 1))
                     / {idcg!r}, 4) AS ndcg_at_5
        FROM approx a
        LEFT JOIN exact e ON e.q_id = a.q_id AND e.vec_id = a.vec_id
        GROUP BY a.q_id
    """


QUERIES["q_ndcg_ann"] = QUERIES["q_ndcg_ann"].__class__(
    name="q_ndcg_ann",
    fn=QUERIES["q_ndcg_ann"].fn,
    oracle=_ndcg_oracle(),
    category="llm-similarity",
)


@register(
    "q_langid_confusion",
    oracle=None,  # assembled below from the registered q_lang_id oracle
    category="llm-text",
)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword-ratio language identifier:
    (true lang, predicted lang) counts plus per-cell share of the true
    class — the evaluation every classifier in the pipeline gets
    before being trusted to route documents. Oracle composes the
    registered q_lang_id oracle, so the matrix always reflects exactly
    what the graded predictor does."""
    pred = q_lang_id(spark, sf_dir).select("lang", "pred_lang")
    w = Window.partitionBy("lang")
    return (
        pred.groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "share_of_true",
            F.round(F.col("n") / F.sum("n").over(w).cast("double"), 4),
        )
    )


def _langid_confusion_oracle() -> str:
    li = QUERIES["q_lang_id"].oracle
    return f"""
        WITH pred AS (SELECT lang, pred_lang FROM ({li}))
        SELECT lang, pred_lang, count(*) AS n,
               round(count(*) / CAST(sum(count(*))
                     OVER (PARTITION BY lang) AS DOUBLE), 4) AS share_of_true
        FROM pred GROUP BY lang, pred_lang
    """


QUERIES["q_langid_confusion"] = QUERIES["q_langid_confusion"].__class__(
    name="q_langid_confusion",
    fn=QUERIES["q_langid_confusion"].fn,
    oracle=_langid_confusion_oracle(),
    category="llm-text",
)


# ---------------------------------------------------------------------------
# k-means over embeddings — exact-integer Lloyd iterations

_KM_K = 8
_KM_ITERS = 2
_KM_DIST = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " p -> (p[1] - p[2]) * (p[1] - p[2])))"
)


def _kmeans_oracle() -> str:
    """Unrolled Lloyd iterations as chained CTEs (pagerank pattern).
    All arithmetic is exact int64: vectors quantize to milli-units,
    centroid updates are floor(sum/count) — identical in both engines,
    so assignments can never diverge by a final-ulp tie."""
    its = []
    prev = "c0"
    for t in range(1, _KM_ITERS + 1):
        its.append(f"""
        a{t} AS (
            SELECT q.vec_id, q.v, c.j,
                   {_KM_DIST.format(a="q.v", b="c.c")} AS dist
            FROM q CROSS JOIN {prev} c
            QUALIFY row_number() OVER (PARTITION BY q.vec_id
                                       ORDER BY dist ASC, c.j ASC) = 1
        ),
        m{t} AS (
            SELECT j, i,
                   CAST(floor(sum(x) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cd
            FROM (SELECT j, unnest(v) AS x,
                         generate_subscripts(v, 1) AS i
                  FROM a{t})
            GROUP BY j, i
        ),
        c{t} AS (
            SELECT p.j,
                   CASE WHEN count(m.cd) = 0 THEN any_value(p.c)
                        ELSE list(m.cd ORDER BY m.i) END AS c
            FROM {prev} p LEFT JOIN m{t} m ON m.j = p.j
            GROUP BY p.j
        )""")
        prev = f"c{t}"
    return f"""
        WITH q AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS v
            FROM embeddings
        ),
        c0 AS (SELECT vec_id AS j, v AS c FROM q WHERE vec_id < {_KM_K}),
        {",".join(its)},
        final AS (
            SELECT q.vec_id, c.j,
                   {_KM_DIST.format(a="q.v", b="c.c")} AS dist
            FROM q CROSS JOIN {prev} c
            QUALIFY row_number() OVER (PARTITION BY q.vec_id
                                       ORDER BY dist ASC, c.j ASC) = 1
        )
        SELECT CAST(j AS BIGINT) AS cluster_id,
               count(*) AS n_members,
               CAST(sum(dist) AS BIGINT) AS inertia
        FROM final
        GROUP BY j
    """


def _kmeans_fit(spark: SparkSession, sf_dir: str):
    """Run the exact-integer Lloyd loop; returns (quantized_df, a
    per-row assign(df) -> df+columns fn exposing the K sorted
    (dist, j) structs, final centroids dict)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * 1000 + F.lit(0.5)).cast("long"),
        ).alias("v"),
    )
    centroids = {
        int(r["vec_id"]): [int(x) for x in r["v"]]
        for r in q.filter(F.col("vec_id") < _KM_K).collect()
    }

    def sorted_dists(df):
        if not centroids:
            # empty corpus: df has 0 rows — give ds a concrete struct
            # type so element_at keeps resolving (never evaluated)
            dists = F.array(
                F.struct(
                    F.lit(None).cast("long").alias("dist"),
                    F.lit(None).cast("integer").alias("j"),
                )
            )
            return df.withColumn("ds", dists)
        dists = F.array(
            *[
                F.struct(
                    F.aggregate(
                        F.zip_with(
                            F.col("v"),
                            F.array(*[F.lit(c) for c in centroids[j]]),
                            lambda x, c: (x - c) * (x - c),
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, d: acc + d,
                    ).alias("dist"),
                    F.lit(j).alias("j"),
                )
                for j in sorted(centroids)
            ]
        )
        return df.withColumn("ds", F.array_sort(dists))

    def assign(df):
        best = F.element_at(F.col("ds"), 1)
        return (
            sorted_dists(df)
            .withColumn("j", best["j"])
            .withColumn("dist", best["dist"])
        )

    for _ in range(_KM_ITERS):
        assigned = assign(q)
        sums = (
            assigned.select("j", F.posexplode("v").alias("i", "x"))
            .groupBy("j", "i")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = {}
        for r in sums:
            # Python // is exact floor division; equal to both engines'
            # floor(double quotient) at these magnitudes (error < 1/n)
            new.setdefault(int(r["j"]), [0] * 64)[int(r["i"])] = int(r["s"]) // int(
                r["n"]
            )
        for j in centroids:  # empty clusters keep their previous centroid
            if j in new:
                centroids[j] = new[j]

    return q, assign, centroids


@register("q_kmeans_embed", oracle=_kmeans_oracle(), category="llm-similarity")
def q_kmeans_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means clustering of the embedding corpus (K=8, 2 Lloyd
    iterations, deterministic init = first K vectors) — the embedding-
    curation primitive behind corpus diversity sampling and
    near-duplicate pruning at training-data scale.

    Numerics: everything is EXACT int64 — vectors quantize once to
    milli-units (floor(x·1000 + 0.5), deterministic on both engines),
    distances are integer sums, and centroid updates floor-divide
    integer sums by counts (floor of a correctly-rounded double
    quotient, deterministic for these magnitudes). Float means would
    differ between engines in the last ulp and could flip an argmin
    near a tie; the integer pipeline cannot diverge, which is why the
    full ITERATIVE computation hash-matches the oracle, not just a
    summary. Empty clusters keep their previous centroid.

    Scale shape per iteration: assignment is a per-row expression over
    K broadcast literal centroids (rides the scan, zero shuffle);
    the update is ONE combinable (cluster, dim) aggregate whose K·64
    output rows collect to the driver (the broadcast-next-round
    pattern; a billion-vector corpus shuffles only K·64 longs)."""
    _q, assign, _c = _kmeans_fit(spark, sf_dir)
    return (
        assign(_q)
        .groupBy(F.col("j").cast("bigint").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("dist").cast("bigint").alias("inertia"),
        )
    )


def _silhouette_oracle() -> str:
    """Simplified (centroid-based) silhouette over the SAME unrolled
    Lloyd CTEs as q_kmeans_embed: a = dist to own centroid, b = dist to
    the nearest other centroid — both exact ints, so only the final
    ratio is floating point."""
    base = _kmeans_oracle()
    prefix = base[: base.index("final AS")]
    return f"""{prefix}ranked AS (
            SELECT q.vec_id, c.j,
                   {_KM_DIST.format(a="q.v", b="c.c")} AS dist,
                   row_number() OVER (PARTITION BY q.vec_id
                                      ORDER BY {_KM_DIST.format(a="q.v", b="c.c")} ASC,
                                               c.j ASC) AS rk
            FROM q CROSS JOIN c{_KM_ITERS} c
        ),
        ab AS (
            SELECT vec_id,
                   min(CASE WHEN rk = 1 THEN j END) AS j,
                   min(CASE WHEN rk = 1 THEN dist END) AS a,
                   min(CASE WHEN rk = 2 THEN dist END) AS b
            FROM ranked GROUP BY vec_id
        )
        SELECT CAST(j AS BIGINT) AS cluster_id,
               count(*) AS n_members,
               round(avg(CASE WHEN greatest(a, b) = 0 THEN 0.0
                              ELSE (b - a) / CAST(greatest(a, b) AS DOUBLE)
                         END), 4) AS avg_silhouette
        FROM ab
        GROUP BY j
    """


@register("q_kmeans_silhouette", oracle=_silhouette_oracle(), category="llm-similarity")
def q_kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette score per k-means cluster — the cluster-
    quality companion of q_kmeans_embed (how separated is each cluster:
    s = (b−a)/max(a,b) with a = distance to own centroid, b = distance
    to the nearest OTHER centroid; the O(N·K) centroid form, not the
    O(N²) pairwise one). a and b come exact-int from the shared
    integer Lloyd fit, so the only float op is the final ratio; the
    per-cluster average rounds at 4 like every graded float aggregate.
    Composes the SAME unrolled-CTE oracle as q_kmeans_embed."""
    q, assign, _c = _kmeans_fit(spark, sf_dir)
    scored = assign(q)
    a = F.col("dist")
    # try_: a 1-centroid (single-vector) fit has no second-nearest —
    # NULL instead of the ANSI out-of-bounds raise; both engines'
    # greatest() then ignore it and s degrades to 0
    b = F.try_element_at(F.col("ds"), F.lit(2))["dist"]
    s = F.when(F.greatest(a, b) == 0, F.lit(0.0)).otherwise(
        (b - a) / F.greatest(a, b).cast("double")
    )
    return (
        scored.withColumn("s", s)
        .groupBy(F.col("j").cast("bigint").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.avg("s"), 4).alias("avg_silhouette"),
        )
    )
