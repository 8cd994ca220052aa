"""Parity of the Arrow hash kernels with the expression forms they
replaced.

`char_gram_items_gen` / `winnow_fp_gen` must be VALUE-IDENTICAL to the
materialized-codepoint expression pipeline (`char_codepoints` +
`charfold_gram_hashes_from_cps` + the window-min transform) — the
graded DuckDB oracles replay the same charfold polynomial, so any
divergence is a wrong answer. The pinned edge semantics: empty text
hashes as one gram of the [0, 0] codepoint artifact (fold 0), sub-k
texts hash as ONE truncated gram, null texts yield a [null] gram array
(items) / one null-fp row (winnow), trailing winnow windows clamp, and
fewer-than-w-gram docs emit their single whole-array min. The word-gram
and MinHash kernels are pinned the same way, on non-ASCII text, empty
tokens and null texts that the fixtures do not contain.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from builder_spark.catalog import load_table
from builder_spark.operators.arrowkern import (
    _minima,
    char_gram_items_gen,
    charfold_kgram_explode_gen,
    winnow_fp_gen,
)
from builder_spark.operators.dedup import (
    _P,
    _perm_consts,
    char_codepoints,
    charfold_gram_hashes_from_cps,
    charfold_token_hp,
    kgram_hashes_from_hp,
    minhash_signatures,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
K, W = 5, 4


def _expr_items(df):
    base = df.select(F.col("doc_id").alias("_id"), char_codepoints("text").alias("_cps"))
    # array_sort: the kernel emits ascending sets, the expression form
    # first-occurrence order — consumers are set-shaped, so sorted
    # comparison is the right equivalence
    return base.select(
        "_id",
        F.array_sort(
            F.array_distinct(charfold_gram_hashes_from_cps("_cps", K))
        ).alias("_arr"),
    )


def _kern_items(df):
    return df.select(F.col("doc_id").alias("_id"), "text").mapInArrow(
        char_gram_items_gen(K, "_id"), "_id long, _arr array<long>"
    )


def _expr_winnow(df):
    base = df.select("doc_id", char_codepoints("text").alias("_cps"))
    hashed = base.select(
        "doc_id", charfold_gram_hashes_from_cps("_cps", K).alias("_g")
    )
    n_wins = F.greatest(F.size(F.col("_g")) - (W - 1), F.lit(1))
    wins = F.transform(
        F.sequence(F.lit(1), n_wins),
        lambda j: F.array_min(F.slice(F.col("_g"), j, W)),
    )
    return hashed.select("doc_id", F.explode(F.array_distinct(wins)).alias("fp"))


def _kern_winnow(df):
    return df.select("doc_id", "text").mapInArrow(
        winnow_fp_gen(K, W, "doc_id"), "doc_id long, fp long"
    )


def _assert_same(a, b):
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_chargram_kernels_match_expressions_on_fixture(spark):
    d = load_table(spark, SF_DIR, "documents")
    _assert_same(_expr_items(d), _kern_items(d))
    _assert_same(_expr_winnow(d), _kern_winnow(d))


def test_charfold_strings_gen_matches_charfold_hash(spark):
    from builder_spark.operators.arrowkern import charfold_strings_gen
    from builder_spark.operators.dedup import charfold_hash

    rows = [
        (0, ""), (1, "a"), (2, "abc def"), (3, "héllo wörld"),
        (4, "\U0001F600ab"), (5, "x" * 500), (6, "a b c d e f g"), (7, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, _w string")
    expr = df.select("doc_id", charfold_hash("_w").alias("_th"))
    kern = df.mapInArrow(charfold_strings_gen("_th"), "doc_id long, _th long")
    assert expr.exceptAll(kern).count() == 0
    assert kern.exceptAll(expr).count() == 0


def test_chargram_kernels_match_on_edge_texts(spark):
    rows = [
        (0, ""),                      # cps [0, 0] -> one gram, fold 0
        (1, "a"),                     # sub-k: one truncated gram
        (2, "abcd"),                  # len k-1
        (3, "abcde"),                 # exactly k: one full gram
        (4, "abcdefgh"),              # k-1 < len < k+w-1: < w grams
        (5, "abcdefghijkl"),          # >= w grams
        (6, "héllo wörld"),           # non-ASCII BMP
        (7, "\U0001F600ab\U0001F600de"),  # non-BMP codepoints
        (8, None),                    # null text
        (9, "aa" * 200),              # repetitive: heavy dedup
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    _assert_same(_expr_items(df), _kern_items(df))
    _assert_same(_expr_winnow(df), _kern_winnow(df))


#: rows no fixture has: non-ASCII (BMP and beyond), empty tokens from
#: leading / trailing / double spaces, an empty and a null text
_UNICODE_ROWS = [
    (0, "héllo wörld über alles"),
    (1, "中文 文本 很 好"),
    (2, "\U0001F600 ab \U0001F600de x"),
    (3, "  a  b  "),
    (4, " lead space"),
    (5, "trail space "),
    (6, ""),
    (7, None),
    (8, "one"),
    (9, "é \U0001F600"),
]


@pytest.mark.parametrize("k", [2, 3])
def test_charfold_kgram_explode_matches_expression(spark, k):
    df = spark.createDataFrame(_UNICODE_ROWS, "doc_id long, text string")
    expr = df.select("doc_id", charfold_token_hp(F.split("text", " ")).alias("_hp")).select(
        "doc_id", F.explode(kgram_hashes_from_hp("_hp", k)).alias("h")
    )
    kern = df.mapInArrow(charfold_kgram_explode_gen(k, ["doc_id"]), "doc_id long, h long")
    _assert_same(expr, kern)


def test_minhash_signatures_match_expression_form(spark):
    """sig_i = array_min(transform(shingles, s -> (a_i·s + b_i) mod P))
    over 3-token shingles of xxhash64 token hashes; a document with
    fewer than 3 tokens has no shingles and drops out."""
    extra = [
        (10_000, "double  spaced  text here"),
        (10_001, " leading space text"),
        (10_002, "two tokens"),
        (10_003, "héllo wörld 中文 \U0001F600 x"),
    ]
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    df = docs.unionByName(spark.createDataFrame(extra, "doc_id long, text string"))
    th = df.select(
        "doc_id",
        F.transform(F.split("text", " "), lambda t: F.pmod(F.xxhash64(t), F.lit(_P))).alias("_th"),
    ).filter(F.size("_th") >= 3)

    def shingle(i):
        acc = F.element_at("_th", i)
        for j in (1, 2):
            acc = F.pmod(acc * 31 + F.element_at("_th", i + j) * 37, F.lit(_P))
        return acc

    sh = th.select(
        "doc_id", F.transform(F.sequence(F.lit(1), F.size("_th") - 2), shingle).alias("_sh")
    )

    def sig(i):
        a, b = _perm_consts(i)
        return F.array_min(F.transform("_sh", lambda s: F.pmod(a * s + b, F.lit(_P))))

    expr = sh.select("doc_id", *[sig(i).alias(f"sig_{i}") for i in range(16)])
    kern = minhash_signatures(df, "doc_id", "text")
    assert kern.filter(F.col("doc_id") == 10_002).count() == 0
    assert kern.count() == expr.count() > 500
    _assert_same(expr, kern)


@pytest.mark.parametrize("counts", [[2, 0, 1], [2, 1, 0]])
def test_minima_rejects_a_document_without_values(counts):
    """``np.minimum.reduceat`` over an empty segment returns the next
    document's first value (or indexes past the end for a trailing
    one), so a zero count must raise rather than give a wrong
    signature."""
    vals = np.array([5, 3, 7], np.int64)
    assert [c.to_pylist() for c in _minima(vals, np.array([2, 1]), [(1, 0)], _P)] == [[3, 7]]
    with pytest.raises(ValueError):
        _minima(vals, np.array(counts), [(1, 0)], _P)
