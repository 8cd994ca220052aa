"""Deduplication operators: exact, fingerprint, MinHash+LSH, Jaccard.

Scale design (the 100 TB story):
- exact_dedup: one hash-aggregate shuffle on the dedup key. For long
  text keys, dedup on md5(text) instead so the shuffle moves 16-byte
  keys, not documents.
- minhash LSH: per-doc signature is a single agg over exploded
  shingles (k min-aggregates, map-side combined). Banding turns the
  O(n²) all-pairs problem into |bucket|² within LSH buckets — the only
  join is on (band, bucket).
- jaccard_pairs (exact): common-token join; at scale you run it ONLY
  on LSH candidates, never all pairs.

Candidate generation lives in two shared helpers; every near-duplicate
operator (MinHash, SimHash, embedding LSH, winnowing, Jaccard and
containment prefix filters, and the graded banding queries) calls them
instead of carrying its own copy:
- :func:`band_rows` explodes per-band bucket expressions into
  (id, band, bucket) rows; :func:`band_candidates` self-joins them on
  (band, bucket) into distinct pairs id_a < id_b — the banded-LSH
  OR-construction.
- :func:`_rare_prefix` ranks each set's elements rarest-first by global
  document frequency and keeps the first ``|d| − ⌈τ·|d|⌉ + 1`` — the
  prefix that any pair scoring ≥ τ must share (SSJoin / PPJoin).

Verification lives in one helper too: :func:`attach_pairs` pins the
candidate pairs to cluster parallelism and joins each side's columns
back by id, and every verifier scores the attached columns.

τ slack: every verifier here accepts ``round(score, 4) ≥ τ``, i.e. true
scores down to τ − 5e-5. A prefix length (or size/positional bound)
computed from the exact τ can drop a boundary pair that the verifier —
and an exact all-pairs oracle — keeps, once sets reach ~20k distinct
elements. So every prefix-filter bound prunes against
τ − :data:`_TAU_SLACK`; the slack only widens the candidate set.

MinHash here is hand-rolled and fully deterministic: xxhash64 shingle
hashes + fixed odd multipliers (splitmix64-derived constants), min per
permutation. No randomness, reproducible across runs/clusters.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from builder_spark.functions.text import tokens, word_shingles
from builder_spark.operators.partitioning import materialize, release, spread

#: splitmix64-style fixed constants; k permutations h_i(x) = a_i*x + b_i
#: in wrapping 64-bit arithmetic (Java long overflow is defined).
_MULTS = [
    0x9E3779B97F4A7C15,
    0xBF58476D1CE4E5B9,
    0x94D049BB133111EB,
    0xD6E8FEB86659FD93,
    0xA5A5A5A5A5A5A5A5,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0x27D4EB2F165667C5,
]


#: Mersenne prime 2^31-1: Carter-Wegman universal hashing h_i(x) =
#: (a_i·x + b_i) mod p. With x,a,b < 2^31 the product stays < 2^62 —
#: no long overflow under Spark's default ANSI arithmetic.
_P = 2147483647

#: Word-shingle width of MinHash and SimHash: a document's features are
#: its runs of this many consecutive tokens.
SHINGLE_WORDS = 3

#: Prefix-filter threshold slack: the round-4 acceptance granularity
#: (see the module docstring).
_TAU_SLACK = 5e-5


def _perm_consts(i: int) -> tuple[int, int]:
    """(a_i, b_i) for permutation h_i(x) = (a_i·x + b_i) mod _P."""
    a = (_MULTS[i % len(_MULTS)] >> (i % 23)) & 0x7FFFFFFF | 1
    b = (_MULTS[(i * 7 + 3) % len(_MULTS)] * (i + 1)) & 0x7FFFFFFF
    return a, b


def exact_dedup(df: DataFrame, key: str, order_col: str) -> DataFrame:
    """Keep the first row (min order_col) per duplicate key."""
    w = Window.partitionBy(key).orderBy(F.col(order_col).asc())
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def minhash_signatures(df: DataFrame, id_col: str, text_col: str, k: int = 16) -> DataFrame:
    """(id, sig_0..sig_{k-1}): deterministic MinHash signature per doc
    over :data:`SHINGLE_WORDS`-token shingles.

    The token→hash step (xxhash64, codegen'd) stays JVM-side; the
    shingle combine and the k permutation-min passes run as a
    vectorized numpy kernel in one ``mapInArrow`` stage
    (``arrowkern.token_hash_sig_gen``) — output bit-identical to the
    pure-expression form sig_i = array_min(transform(shingles, h_i))
    (pinned by tests/test_chargram_kernel.py) but ~50× less
    signature-stage CPU at sf0.1: HOF lambdas are interpreted per
    (shingle × permutation), numpy does one C pass per permutation over
    the whole batch. Only (id, token hashes) cross the Python boundary,
    as Arrow batches; no shuffle is touched. Docs with fewer than
    :data:`SHINGLE_WORDS` tokens have no shingles and are dropped.
    """
    from builder_spark.operators.arrowkern import token_hash_sig_gen

    toks = tokens(text_col)
    th = F.transform(toks, lambda t: F.pmod(F.xxhash64(t), F.lit(_P)))
    # Shingle-less docs are dropped HERE, on the cheap token count —
    # the kernel assumes ≥1 shingle per row.
    pre = (
        spread(df, id_col)
        .filter(F.size(toks) >= SHINGLE_WORDS)
        .select(F.col(id_col), th.alias("_th"))
    )
    out_schema = StructType(
        [pre.schema[id_col]] + [StructField(f"sig_{i}", LongType()) for i in range(k)]
    )
    consts = [_perm_consts(i) for i in range(k)]
    sigs = pre.mapInArrow(token_hash_sig_gen(consts, SHINGLE_WORDS, id_col), out_schema)
    # the LSH banding self-joins this kernel output: a repartition
    # boundary re-ran the kernel per consumer (measured: 2 executions
    # for q_dedup_fuzzy, 4 for q_minhash_banded); k longs per doc
    return materialize(sigs)


def band_rows(df: DataFrame, id_col: str, bands: list[Column]) -> DataFrame:
    """(id, band, bucket) rows, one per input row and band: ``bands[i]``
    is band i's bucket expression over ``df``'s columns. Only these
    narrow rows feed the band join — never the signature or vector."""
    arr = F.array(
        *[F.struct(F.lit(i).alias("band"), c.alias("bucket")) for i, c in enumerate(bands)]
    )
    return df.select(F.col(id_col), F.explode(arr).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def band_candidates(df: DataFrame, id_col: str, bands: list[Column]) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) that agree on the bucket
    of at least one band (see :func:`band_rows`): a self equi-join on
    (band, bucket), never all-pairs. Pairs agreeing on several bands
    appear once. ``df`` is scanned once per join side, so callers
    :func:`~builder_spark.operators.partitioning.materialize` anything
    expensive (a MapInArrow kernel) first."""
    rows = band_rows(df, id_col, bands)
    a = rows.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = rows.select(F.col(id_col).alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_candidates(
    sigs: DataFrame, id_col: str, k: int = 16, bands: int = 8
) -> DataFrame:
    """Candidate pairs (id_a < id_b) sharing ≥1 LSH band bucket.

    rows_per_band = k/bands; band hash = xxhash64 of the band's
    signature slice.
    """
    rpb = k // bands
    return band_candidates(
        sigs,
        id_col,
        [F.xxhash64(*[f"sig_{b * rpb + j}" for j in range(rpb)]) for b in range(bands)],
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact word-set Jaccard for pairs (id_a < id_b) with sim ≥ threshold.

    With ``candidates`` (e.g. from LSH), ONLY those pairs are scored by
    :func:`jaccard_from_sets` — no token-level explode, no all-pairs
    work. Cost is O(|candidates| × avg tokens), the shape that survives
    100 TB.

    Without candidates, generation is the complete prefix filter
    (:func:`prefix_filter_candidates`).
    """
    if candidates is not None:
        items = df.select(
            F.col(id_col).alias("_id"), F.array_distinct(tokens(text_col)).alias("_arr")
        )
        return jaccard_from_sets(items, candidates, threshold)
    # spread: tokenization must not serialize on a single-row-group
    # scan; trailing repartition = materialization boundary so the
    # prefix/df/verification consumers share ONE tokenization via
    # exchange reuse (see minhash_signatures)
    items = (
        spread(df, id_col)
        .select(F.col(id_col).alias("_id"), F.array_distinct(tokens(text_col)).alias("_arr"))
        .repartition(F.col("_id"))
    )
    cands = prefix_filter_candidates(items, threshold)
    return jaccard_from_sets(items, cands, threshold)


def _rare_prefix(items: DataFrame, tau: float) -> tuple[DataFrame, DataFrame]:
    """(tok, prefix) for prefix filtering at threshold ``tau``.

    ``tok`` = (_id, _sz, _w): every element of every set in ``items``
    (_id, _arr with DISTINCT elements), _sz the set size. ``prefix`` =
    (_id, _sz, _rn, _w): each set's first ``|d| − ⌈τ'·|d|⌉ + 1``
    elements in rarest-first order (global document frequency, ties by
    value), _rn the 1-based rank, τ' = τ − _TAU_SLACK (module
    docstring). The ε in the ceil guards against double rounding of
    τ'·|d| shrinking the prefix below completeness. Hot elements sit at
    the end of the order, so they never enter a prefix unless a set is
    almost all hot elements: the generation join's fan-out is Σ df² over
    rare elements only.

    Explicit pinned (_id) exchange: the window's own hash exchange is
    byte-tiny, so AQE's byte-based coalescing serializes the ranking
    AND everything pipelined above it (the pair-generating join + the
    partial distinct) onto a handful of tasks (measured: one 15-18 s
    task at sf0.1); REPARTITION_BY_NUM is exempt, satisfies the
    window's clustering requirement (no second exchange), and scales
    with the cluster — the same fix as the stitch's (_pid) pin. Second
    pin on _w: the generation join's streamed side otherwise inherits
    the coalesced layout."""
    tau = tau - _TAU_SLACK
    n_pin = items.sparkSession.sparkContext.defaultParallelism
    tok = items.select("_id", F.size("_arr").alias("_sz"), F.explode("_arr").alias("_w"))
    gdf = tok.groupBy("_w").agg(F.count(F.lit(1)).alias("_gdf"))
    w = Window.partitionBy("_id").orderBy(F.col("_gdf").asc(), F.col("_w").asc())
    prefix_len = F.col("_sz") - F.ceil(F.lit(tau) * F.col("_sz") - F.lit(1e-9)) + 1
    prefix = (
        tok.join(gdf, "_w")
        .repartition(n_pin, F.col("_id"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= prefix_len)
        .select("_id", "_sz", "_rn", "_w")
        .repartition(n_pin, F.col("_w"))
    )
    return tok, prefix


def prefix_filter_candidates(items: DataFrame, tau: float) -> DataFrame:
    """Complete candidate pairs (id_a < id_b) for Jaccard ≥ tau via
    PREFIX FILTERING (Chaudhuri et al. SSJoin '06 / Bayardo PPJoin
    '07): two sets with Jaccard ≥ τ MUST share an element of their
    :func:`_rare_prefix` (J ≥ τ ⇒ overlap ≥ τ·max(|A|,|B|); if the
    whole prefix missed, overlap ≤ |d| − prefix_len < τ·|d| —
    contradiction). Input: ``items`` = (_id, _arr) with DISTINCT
    elements. Output pairs are a strict superset of the true ≥ τ
    pairs; verify with jaccard_from_sets.

    Scale: this is what replaces the naive common-token join — join
    fan-out collapses from Σ df² over ALL tokens to Σ df_prefix² over
    rare ones.
    """
    _, prefix = _rare_prefix(items, tau)
    tau = tau - _TAU_SLACK  # the bounds below prune on the same slacked τ
    a = prefix.select(
        F.col("_id").alias("id_a"), F.col("_sz").alias("_sza"), F.col("_rn").alias("_rna"), "_w"
    )
    b = prefix.select(
        F.col("_id").alias("id_b"), F.col("_sz").alias("_szb"), F.col("_rn").alias("_rnb"), "_w"
    )
    # PPJoin refinements, both sound (never drop a true ≥ τ pair):
    # size filter — J ≥ τ forces τ·|B| ≤ |A| ≤ |B|/τ; positional
    # filter — matching at prefix positions (i, j) caps the possible
    # overlap at 1 + min(|A|−i, |B|−j), which must reach the required
    # overlap ⌈τ/(1+τ)·(|A|+|B|)⌉ (ε-relaxed against double rounding).
    required = F.ceil(
        F.lit(tau / (1.0 + tau)) * (F.col("_sza") + F.col("_szb")) - F.lit(1e-9)
    )
    ubound = 1 + F.least(F.col("_sza") - F.col("_rna"), F.col("_szb") - F.col("_rnb"))
    return (
        a.join(b, "_w")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.col("_sza") >= F.ceil(F.lit(tau) * F.col("_szb") - F.lit(1e-9)))
        .filter(F.col("_szb") >= F.ceil(F.lit(tau) * F.col("_sza") - F.lit(1e-9)))
        .filter(ubound >= required)
        .select("id_a", "id_b")
        .distinct()
    )


def attach_pairs(pairs: DataFrame, items: DataFrame, id_col: str, cols: list[str]) -> DataFrame:
    """``pairs`` (id_a, id_b, ...) with ``items``' ``cols`` joined onto
    both sides by ``id_col`` as ``<col>_a`` and ``<col>_b`` — the attach
    step of every near-duplicate verifier.

    The pairs first fan out to cluster parallelism with an explicit
    REPARTITION_BY_NUM. The verification stage's cost is per-PAIR CPU
    (attach two element arrays, count the overlap), but the candidate
    `.distinct()` feeding it is byte-tiny (16 B/pair), so AQE's
    byte-based partition coalescing legally shrinks it — measured at
    sf0.1: q_ngram_jaccard's verify stage ran 167 CPU-s on 8 tasks,
    q_containment_dedup's pair fan-out on ONE task (15 s straggler).
    Pinning the count makes the exchange exempt from coalescing (same
    fix, same reasoning as the stitch's (_pid) repartition).
    The pin hashes ONE derived key, xxhash64(id_a, id_b), and neither
    of the obvious alternatives:
    - hash on (id_a, id_b): the distinct's own ENSURE_REQUIREMENTS
      exchange already hash-partitions by exactly that key, so the pin
      is elided as a redundant exchange and the surviving distinct
      exchange coalesces anyway (observed in the AQE-final plan: the
      pin vanished, verify ran on 16 tasks / 113 CPU-s);
    - round-robin: it survives, but Spark sorts every row before a
      round-robin shuffle (``sortBeforeRepartition``, for retry
      determinism). On the 4x scale-smoke corpus that sort cost
      q_simhash more than the pin saved: 26-33 s against 26-27 s
      unpinned and 19-22 s with the derived-key hash.
    Pairs are distinct, so the derived key spreads them as evenly as
    round-robin. Scale-adaptive: defaultParallelism is the cluster's
    core count, not a local constant."""
    out = pairs.repartition(
        pairs.sparkSession.sparkContext.defaultParallelism, F.xxhash64("id_a", "id_b")
    )
    for side in ("a", "b"):
        key = f"id_{side}"
        out = out.join(
            items.select(
                F.col(id_col).alias(key), *[F.col(c).alias(f"{c}_{side}") for c in cols]
            ),
            key,
        )
    return out


def jaccard_from_sets(
    items: DataFrame, candidates: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard over candidate pairs: both element arrays join in
    whole (:func:`attach_pairs`), and the intersection is computed
    JVM-side with array_intersect — no element-level explode, cost
    O(|candidates| · avg set size).

    A vectorized Arrow pair-overlap kernel (sorted per-doc arrays +
    searchsorted probes) was built and MEASURED against this form at
    sf0.1 (r15): with attach_pairs' partition pin, the JVM intersect runs
    the whole verify stage in ~2 s, while the kernel paid ~21 GB of
    pair-grain Arrow boundary (the real gram sets average ~900
    elements, not the 200 the napkin math assumed) plus numpy passes
    that cost about the same CPU as the hash sets it replaced — 17-31 s
    walls, 10× WORSE. Rejected; the pin is the whole win here."""
    pairs = attach_pairs(candidates, items, "_id", ["_arr"])
    # SSJoin SIZE FILTER (exactness-preserving): J(A,B) ≥ τ forces
    # |A∩B| ≥ τ·max(|A|,|B|) and |A∩B| ≤ min(|A|,|B|), hence
    # min ≥ τ·max — a candidate whose sizes are more than 1/τ apart
    # cannot qualify and skips the O(set size) intersection entirely.
    # τ is slacked (module docstring), doubled to 1e-4 because this is
    # a PRUNING-only filter: it removes the 1-ulp FP edge when min
    # equals (τ−5e-5)·max exactly, at the cost of a few extra
    # candidates reaching the exact check.
    sa, sb = F.size("_arr_a"), F.size("_arr_b")
    pairs = pairs.filter(
        F.least(sa, sb).cast("double") >= F.lit(threshold - 1e-4) * F.greatest(sa, sb)
    )
    inter = F.size(F.array_intersect("_arr_a", "_arr_b"))
    union = sa + sb - inter
    return (
        pairs.withColumn("jaccard", F.round(inter / union.cast("double"), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


#: SimHash configuration — shared with the DuckDB oracle generator in
#: queries/llmscale.py so both engines compute identical signatures.
SIMHASH_BITS = 24
SIMHASH_BANDS = 4
CHARFOLD_MOD = 1 << 25  # fold modulus: acc*31+cp stays < 2^30, no overflow


def charfold_hash(col) -> "F.Column":
    """Deterministic polynomial string hash: fold (acc*31 + codepoint)
    mod 2^25 over the characters, init 0.

    Engine-portable by construction (unlike xxhash64/murmur): DuckDB
    computes the identical value via list_reduce(list_prepend(0,
    codepoints), (a,b) -> (a*31+b) % m) — verified char-for-char.
    Pure codegen expressions, no UDF.
    """
    w = F.col(col) if isinstance(col, str) else col
    cps = F.transform(
        F.sequence(F.lit(1), F.length(w)),
        lambda i: F.ascii(F.substr(w, i, F.lit(1))).cast("long"),
    )
    return F.aggregate(
        cps, F.lit(0).cast("long"), lambda acc, x: F.pmod(acc * F.lit(31) + x, F.lit(CHARFOLD_MOD))
    )


def charfold_token_hp(tokens_col) -> "F.Column":
    """Per-token charfold state array: for each token the pair
    ``(h = charfold_hash(token), p = 31^len(token) mod m)`` —
    everything :func:`kgram_hashes_from_hp` needs to assemble shingle
    hashes with O(1) arithmetic. MUST be projected into its own column
    before use (``.select(..., charfold_token_hp(t).alias("_hp"))``):
    Spark does no common-subexpression elimination inside
    higher-order-function lambdas, so inlining this expression into a
    per-shingle combiner re-folds every token once PER SHINGLE
    (measured 28× slower, not faster). CollapseProject keeps the
    intermediate projection because the column is referenced many
    times, so the fold runs exactly once per row."""
    m = F.lit(CHARFOLD_MOD)

    def tok_hp(t):
        cps = F.transform(
            F.sequence(F.lit(1), F.length(t)),
            lambda i: F.ascii(F.substr(t, i, F.lit(1))).cast("long"),
        )
        folded = F.aggregate(
            cps,
            F.struct(F.lit(0).cast("long").alias("h"), F.lit(1).cast("long").alias("p")),
            lambda acc, x: F.struct(
                F.pmod(acc.getField("h") * 31 + x, m).alias("h"),
                F.pmod(acc.getField("p") * 31, m).alias("p"),
            ),
        )
        # EMPTY-token guard: sequence(1, 0) yields the DESCENDING [1, 0]
        # (not an empty array), which would fold two phantom characters
        # into p (h survives because 0·31+0 = 0, p becomes 31² instead
        # of 31⁰) and break the composition identity for texts with
        # consecutive/leading/trailing spaces — the oracle hashes the
        # concatenated string and would diverge.
        return F.when(
            F.length(t) > 0, folded
        ).otherwise(
            F.struct(F.lit(0).cast("long").alias("h"), F.lit(1).cast("long").alias("p"))
        )

    return F.transform(tokens_col, tok_hp)


def kgram_hashes_from_hp(hp_col, k: int = 3) -> "F.Column":
    """Array of :func:`charfold_hash` values of the space-joined word
    ``k``-grams, assembled from a MATERIALIZED
    :func:`charfold_token_hp` column — BIT-IDENTICAL to hashing each
    concatenated shingle string, but each token is char-folded once and
    every shingle combines k ``(h, p)`` pairs with O(1) arithmetic via
    the polynomial fold's concatenation linearity:
    ``hash(a ++ b) = hash(a)·31^|b| + hash(b)  (mod m)``
    (the ' ' separator folds in as ·31 + 32). ~3× less interpreted-
    lambda work than per-shingle string hashing — HOF lambdas aren't
    codegen'd, so the per-char op count IS the cost. All intermediates
    stay < 2^55 (m = 2^25): exact in long arithmetic. The DuckDB
    oracle keeps hashing the concatenated strings — the values are
    mathematically equal, so graded parity is untouched."""
    m = F.lit(CHARFOLD_MOD)
    hp = F.col(hp_col) if isinstance(hp_col, str) else hp_col
    n = F.size(hp)

    def shingle(i):  # i is the 1-based start index
        h = F.element_at(hp, i).getField("h")
        for j in range(1, k):
            nxt = F.element_at(hp, i + F.lit(j))
            # (h·31 + 32) < 2^30, ×p (< 2^25) < 2^55 — no overflow
            h = F.pmod((h * 31 + 32) * nxt.getField("p") + nxt.getField("h"), m)
        return h

    # fewer than k tokens → NO shingles. Guarded with when, not
    # greatest: sequence(1, 0) is the DESCENDING [1, 0] (not empty),
    # which would emit phantom shingles with out-of-bounds indices.
    idx = F.when(n >= F.lit(k), F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, shingle)


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash): :data:`SIMHASH_BITS`-bit SimHash over distinct
    :data:`SHINGLE_WORDS`-word shingles.

    Classic Charikar construction: each shingle votes +1/-1 per bit of
    its hash; signature bit i is set iff the summed vote is positive.
    Shingles (not unigrams) are the feature set — on small-vocabulary
    corpora unigram sets are near-identical across documents and the
    signature stops discriminating. One explode + one groupBy(id) with
    one conditional-sum aggregate per bit — map-side combined, shuffle
    is one long per bit per doc. Fully deterministic (charfold hash, no
    RNG).
    """
    proj, feats = word_shingles(text_col, SHINGLE_WORDS)
    src = spread(df, id_col).select(F.col(id_col), proj)
    # r15: the per-shingle string fold runs in a numpy mapInArrow
    # kernel (charfold_hash is an interpreted double-HOF per shingle —
    # millions of per-char expression walks at sf0.1); value-identical
    # (same fold; pinned by tests/test_chargram_kernel.py). The
    # DISTINCT stays on the shingle STRINGS above: deduping on hash
    # values would merge colliding shingles and change vote weights.
    from builder_spark.operators.arrowkern import charfold_strings_gen

    tok = src.select(F.col(id_col), F.explode(feats).alias("_w"))
    id_type = dict(tok.dtypes)[id_col]
    tok = tok.mapInArrow(
        charfold_strings_gen("_th"), f"{id_col} {id_type}, _th long"
    )
    votes = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright("_th", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"_v{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    sig = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"_v{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return votes.select(F.col(id_col), sig.cast("long").alias("simhash"))


def simhash_near_dupes(df: DataFrame, id_col: str, text_col: str, max_hamming: int = 8) -> DataFrame:
    """Near-dup pairs (id_a < id_b, hamming ≤ max_hamming) via SimHash.

    Candidate generation is banded like MinHash-LSH: the signature is
    cut into :data:`SIMHASH_BANDS` equal bit-slices and pairs must agree
    exactly on ≥1 slice — a join on (band, slice-value), never
    all-pairs. Exact Hamming distance (bit_count of xor) then filters
    candidates.
    At 100 TB: the band join is the only shuffle, keyed on small ints.
    """
    rpb = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << rpb) - 1
    # the band self-join and the two signature rejoins consume sigs;
    # one kernel run, one long per doc
    sigs = materialize(simhash_signatures(df, id_col, text_col))
    cand = band_candidates(
        sigs,
        id_col,
        [F.shiftright("simhash", b * rpb).bitwiseAND(F.lit(mask)) for b in range(SIMHASH_BANDS)],
    )
    xor = F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
    return (
        attach_pairs(cand, sigs, id_col, ["simhash"])
        .select("id_a", "id_b", F.bit_count(xor).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def char_codepoints(text_col) -> "F.Column":
    """Codepoint array of a string column — decode ONCE per row, then
    every gram/fold consumer works on int-array slices instead of
    re-running substr+ascii per character (HOF lambdas are interpreted;
    string ops against the full text dominate). MUST be projected into
    its own column before use — Spark does no CSE inside HOF lambdas
    (see charfold_token_hp)."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.transform(
        F.sequence(F.lit(1), F.length(t)),
        lambda i: F.ascii(F.substr(t, i, F.lit(1))).cast("long"),
    )


def charfold_gram_hashes_from_cps(cps_col, k: int) -> "F.Column":
    """charfold hash of every k-char gram, computed from a MATERIALIZED
    :func:`char_codepoints` column: gram i folds the k-int slice
    starting at i — bit-identical to charfold_hash(substr(text, i, k))
    (same codepoints, same fold), including the short-text case (< k
    chars hash as one truncated gram, exactly like substr's clamping).
    Note sequence's lower bound stays ≥ 1 via the greatest(·, 1) guard,
    so the descending-sequence(1, 0) trap cannot occur."""
    cps = F.col(cps_col) if isinstance(cps_col, str) else cps_col
    m = F.lit(CHARFOLD_MOD)
    n_grams = F.greatest(F.size(cps) - (k - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.aggregate(
            F.slice(cps, i, k),
            F.lit(0).cast("long"),
            lambda acc, x: F.pmod(acc * 31 + x, m),
        ),
    )


WINNOW_K = 5  # character-gram size
WINNOW_W = 4  # winnowing window (grams per window)


def winnow_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Winnowed rolling-hash fingerprints per document (Schleimer,
    Wilkerson, Aiken 2003 — the MOSS algorithm): hash every k-char
    gram, slide a w-gram window, keep each window's minimum hash
    (k = :data:`WINNOW_K`, w = :data:`WINNOW_W`). Guarantees every
    match of length ≥ k+w-1 shares a fingerprint while storing only
    ~2/(w+1) of the gram hashes.

    Returns (id, fp) with distinct fingerprints per document.

    Portability: gram hash = charfold polynomial (engine-portable,
    see charfold_hash) so a DuckDB oracle computes identical values;
    tie-break inside a window is plain min (the paper's rightmost-min
    refinement only changes WHICH duplicate hash survives — the
    selected hash VALUE, which is all we emit, is identical).

    Scale: everything up to the final explode is per-row array math
    riding the scan (no shuffle); the explode fans out ~2n/(w+1) rows
    per doc which then feed a fingerprint equi-join — same shape as
    the LSH band join, no all-pairs.

    r6 throughput rewrite (identical values): the text decodes to a
    MATERIALIZED codepoint array once per row, and each gram hash
    folds a k-int slice of it — the old form re-ran substr+ascii for
    every character of every gram against the full string (O(n·k)
    heavy string ops, interpreted; measured 43 s → ~6 s at sf0.1).
    r15: the per-char fold + window minima moved into one numpy
    mapInArrow kernel (``arrowkern.winnow_fp_gen`` — HOF lambdas are
    interpreted, so the per-char expression walk still dominated);
    values are identical (same int64 fold, clamped windows, truncated
    short-gram semantics — pinned by tests/test_chargram_kernel.py).
    ``spread`` first: single-row-group fixtures would otherwise run
    the whole gram stage on one core."""
    from builder_spark.operators.arrowkern import winnow_fp_gen

    return (
        spread(df, id_col)
        .select(F.col(id_col), F.col(text_col) if isinstance(text_col, str) else text_col)
        .mapInArrow(winnow_fp_gen(WINNOW_K, WINNOW_W, id_col), f"{id_col} long, fp long")
    )


def winnow_containment_pairs(
    df: DataFrame, id_col: str, text_col: str, min_containment: float = 0.5
) -> DataFrame:
    """Near-dup/containment pairs from shared winnowed fingerprints:
    (id_a, id_b, shared_fp, containment) where containment =
    shared_fp / min(|fp_a|, |fp_b|) — the plagiarism-detection metric
    (robust when one doc embeds the other). The fingerprint sets go
    through :func:`containment_pairs`."""
    fps = winnow_fingerprints(df, id_col, text_col)
    # the prefix ranking, the full fingerprint stream and both
    # verification rejoins all sit above the fingerprint kernel; one
    # kernel run, one fingerprint array per doc
    items = materialize(
        fps.groupBy(id_col)
        .agg(F.collect_set("fp").alias("_arr"))
        .select(F.col(id_col).alias("_id"), "_arr")
    )
    return containment_pairs(items, min_containment).select(
        "id_a", "id_b", F.col("shared").alias("shared_fp"), "containment"
    )


#: Most edges :func:`dedup_clusters` solves on the driver. An edge is
#: two int64 ids: 16 B of Arrow, so 4M edges collect as 64 MB, 1/16 of
#: the default 1 GB ``spark.driver.maxResultSize``. numpy's working set
#: (the id concatenation, ``np.unique``'s sort and inverse, the parent
#: array and each round's root gathers) comes on top: at the bound the
#: driver process grew by 544 MB, 8.5× the Arrow bytes. Graphs above it
#: take the distributed loop.
CLUSTER_DRIVER_MAX_EDGES = 4_000_000


def _union_find(u: np.ndarray, v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(node ids, component minimum id) of the graph with edges
    ``u[i]–v[i]``, vectorized: each round hooks every crossing edge's
    larger root under its smaller one, then pointer-jumps until every
    node points at its root. Nodes are indexed in ascending id order
    and a node's parent never exceeds it, so each root is its
    component's smallest id. The number of roots drops every round, so
    the loop ends."""
    ids, idx = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = idx[: len(u)], idx[len(u) :]
    parent = np.arange(len(ids))
    while len(a):
        ra, rb = parent[a], parent[b]
        cross = ra != rb
        a, b, ra, rb = a[cross], b[cross], ra[cross], rb[cross]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while not np.array_equal(grand := parent[parent], parent):
            parent = grand
    return ids, ids[parent]


def _propagation_round(bi: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label propagation round: labels flow across the (already
    bidirectional) edge table and every node keeps the minimum seen.
    ``bi`` carries one self-loop per node, so a node's own label reaches
    it over the same join (``labels`` is read once and the lineage grows
    linearly where checkpoints are elided) and is kept as ``_old``: the
    convergence test is a narrow count over the stored round."""
    return (
        bi.join(labels, bi.v == labels.node)
        .groupBy(F.col("u").alias("node"))
        .agg(
            F.min("label").alias("label"),
            F.min(F.when(F.col("u") == F.col("v"), F.col("label"))).alias("_old"),
        )
    )


def dedup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id),
    cluster_id = min doc id in the component (the canonical survivor).
    Both columns have the input ids' type; a pair with a null id is not
    an edge.

    The edges are read once, as one Spark job of at most
    :data:`CLUSTER_DRIVER_MAX_EDGES` + 1 rows. When they fit under that
    bound — every near-dup graph a curation pass makes — the components
    come from :func:`_union_find` on the driver and the labels go back
    as a local frame of at most ``defaultParallelism`` partitions: one
    job in all, where a propagation loop pays two jobs per round and its
    rounds grow with the component diameter.

    Above the bound, iterative min-label propagation in Spark: every
    node starts labelled with its smallest neighbour (or itself), each
    round runs :func:`_propagation_round` (a shuffle join + aggregate),
    and the loop stops when a round changes no label; labels only
    decrease, so it ends, after O(component diameter) rounds. Each
    round's labels go through
    :func:`~builder_spark.operators.partitioning.materialize` so every
    round plans a constant-size query; each superseded round and the
    edge table are released, so only the returned labels stay pinned.
    The label table is joined with a plain shuffle join: a graph past
    the bound but under ~20M nodes would fit a broadcast label table,
    but no caller builds one, so that path is not kept.
    """
    edges = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v")).dropna()
    bi = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    head = edges.limit(CLUSTER_DRIVER_MAX_EDGES + 1).toArrow()
    if head.num_rows <= CLUSTER_DRIVER_MAX_EDGES:
        ids, labels = _union_find(
            head.column("u").to_numpy(zero_copy_only=False),
            head.column("v").to_numpy(zero_copy_only=False),
        )
        id_type = bi.schema["u"].dataType
        schema = StructType([StructField("doc_id", id_type), StructField("cluster_id", id_type)])
        # above arrow.localRelationThreshold (48 MB) createDataFrame cuts
        # one partition per 10,000-row Arrow batch; coalesce is narrow
        spark = pairs.sparkSession
        return spark.createDataFrame(pa.table([ids, labels], schema.names), schema).coalesce(
            spark.sparkContext.defaultParallelism
        )
    loops = bi.select("u").distinct().select("u", F.col("u").alias("v"))
    bi = materialize(bi.union(loops))
    labels = materialize(
        bi.groupBy(F.col("u").alias("node"))
        .agg(F.min("v").alias("label"))
        .withColumn("_old", F.col("node"))
    )
    while labels.filter(F.col("label") != F.col("_old")).count():
        new_labels = materialize(_propagation_round(bi, labels))
        release(labels)
        labels = new_labels
    release(bi)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def minhash_near_dupes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    k: int = 16,
    bands: int = 8,
) -> DataFrame:
    """Full near-dup pipeline: MinHash signatures → LSH candidate pairs
    → exact Jaccard verification ≥ threshold. Deterministic end-to-end."""
    sigs = minhash_signatures(df, id_col, text_col, k=k)
    cands = minhash_lsh_candidates(sigs, id_col, k=k, bands=bands)
    return jaccard_pairs(df, id_col, text_col, threshold, candidates=cands)


def containment_pairs(items: DataFrame, tau: float) -> DataFrame:
    """Complete candidate+verify pipeline for asymmetric token-set
    CONTAINMENT: (id_a < id_b, shared = |A∩B|, containment) for the
    pairs with |A∩B| / min(|A|,|B|) ≥ τ — the subset-duplicate relation
    Jaccard misses (a doc quoted whole inside a larger one has tiny
    Jaccard, full containment).

    Candidates via the ASYMMETRIC prefix filter: C ≥ τ forces
    |A∩B| ≥ τ·|A| for the smaller set A, so if none of A's
    ``|A| − ⌈τ·|A|⌉ + 1`` globally-rarest tokens appear in B's FULL
    token set, overlap ≤ ⌈τ|A|⌉ − 1 < τ·|A| — impossible. Only the
    smaller side's prefix enters the join (against the full token
    stream); prefix tokens are globally rare by construction, so the
    fan-out is Σ df(rare) — no hot-token blowup, no all-pairs
    (:func:`_rare_prefix`). Verification is exact ``array_intersect``
    on candidates only (:func:`attach_pairs`).

    ``items`` = (_id, _arr) with DISTINCT elements (same contract as
    :func:`prefix_filter_candidates`).
    """
    tok, prefix = _rare_prefix(items, tau)
    full = tok.select(F.col("_id").alias("_idf"), F.col("_sz").alias("_szf"), "_w")
    cand = (
        prefix.join(full, "_w")
        .filter(F.col("_id") != F.col("_idf"))
        # prefix side must be the smaller (or equal-size id-smaller)
        # set: exactly one direction generates each candidate pair
        .filter(
            (F.col("_sz") < F.col("_szf"))
            | ((F.col("_sz") == F.col("_szf")) & (F.col("_id") < F.col("_idf")))
        )
        .select(
            F.least("_id", "_idf").alias("id_a"),
            F.greatest("_id", "_idf").alias("id_b"),
        )
        .distinct()
    )
    mn = F.least(F.size("_arr_a"), F.size("_arr_b"))
    return (
        attach_pairs(cand, items, "_id", ["_arr"])
        .withColumn("shared", F.size(F.array_intersect("_arr_a", "_arr_b")))
        .withColumn("containment", F.round(F.col("shared") / mn.cast("double"), 4))
        .filter(F.col("containment") >= tau)
        .select("id_a", "id_b", "shared", "containment")
    )
