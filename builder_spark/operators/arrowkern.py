"""Vectorized Arrow/numpy kernels for the near-duplicate hash family.

The charfold polynomial (``acc = (acc*31 + codepoint) mod 2^25`` per
character, shingles composed via the fold's concatenation linearity)
and the MinHash permutations are pure integer arithmetic — but as
Spark higher-order-function lambdas they are INTERPRETED, one
expression-tree walk per character/shingle. These kernels keep Spark in
charge of distribution and shuffles and hand each Arrow batch to numpy
(guide §4.2). Every kernel is built from four helpers:

- :func:`_code_points` decodes an Arrow string column's UTF-8 buffer to
  code points in one vectorized pass — no Python string objects;
- :func:`_fold` is the charfold of many code-point segments at once;
- :func:`_windows` combines every run of ``w`` consecutive values
  inside one document (word shingles, char grams, winnow windows);
- :func:`_minima` takes one ``np.minimum.reduceat`` per permutation.

Values are BIT-IDENTICAL to the expression forms in
``operators/dedup.py`` (same int64 arithmetic, intermediates < 2^62;
pinned by tests/test_chargram_kernel.py and verified by the graded
DuckDB oracles, which keep hashing the concatenated strings).

Only the columns a kernel needs cross the Python boundary (callers
``select`` first), and each generator is a module-level importable so
reused Python workers share nothing per-row.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from builder_spark.operators.dedup import _P, CHARFOLD_MOD

_SPACE = 32


def _code_points(strings):
    """Decode an Arrow string array: (cp, starts, lens, valid) where
    ``cp`` is every string's code points end to end (int64), string i
    is ``cp[starts[i] : starts[i] + lens[i]]`` and ``valid`` is False
    for nulls, which decode as empty strings. Offsets are read at the
    array's own width (string or large_string) and from its slice
    offset."""
    valid = strings.is_valid().to_numpy(zero_copy_only=False)
    if strings.null_count:
        strings = strings.fill_null("")  # null slots own no bytes
    n = len(strings)
    _, obuf, dbuf = strings.buffers()
    width = np.int64 if pa.types.is_large_string(strings.type) else np.int32
    offs = np.frombuffer(obuf, width)[strings.offset : strings.offset + n + 1].astype(np.int64)
    b = np.frombuffer(dbuf, np.uint8)[offs[0] : offs[-1]] if dbuf else np.empty(0, np.uint8)
    offs -= offs[0]
    lead = np.flatnonzero((b & 0xC0) != 0x80)  # first byte of each code point
    cp = b[lead].astype(np.int64)
    multi = np.flatnonzero(cp >= 0x80)  # lead bytes of 2- to 4-byte sequences
    at, v = lead[multi], cp[multi]
    nb = 2 + (v >= 0xE0) + (v >= 0xF0)
    v &= np.array([0, 0, 0x1F, 0x0F, 0x07])[nb]
    pad = np.concatenate((b, np.zeros(3, np.uint8)))
    for j in (1, 2, 3):
        v = np.where(nb > j, (v << 6) | (pad[at + j] & 0x3F), v)
    cp[multi] = v
    offs = np.searchsorted(lead, offs)  # byte offset -> code-point index
    return cp, offs[:-1], np.diff(offs), valid


def _fold(cp, starts, lens):
    """charfold of every segment ``cp[starts[i] : starts[i] + lens[i]]``:
    (h, p) with ``h = charfold_hash(segment)`` and ``p = 31^len mod
    CHARFOLD_MOD`` — the (h, p) pair of ``dedup.charfold_token_hp``
    (an empty segment folds to (0, 1)). The per-character fold
    ``acc*31 + c`` unrolls to ``sum(c_j * 31^(len-1-j))``, so each
    segment is one power-weighted ``np.add.reduceat`` (terms < 2^25,
    sums far below 2^63)."""
    maxw = int(lens.max()) if len(lens) else 0
    pw = np.empty(maxw + 1, np.int64)
    pw[0] = 1
    for i in range(1, maxw + 1):
        pw[i] = pw[i - 1] * 31 % CHARFOLD_MOD
    ends = np.cumsum(lens)
    at = ends - lens  # each segment's start in the gathered order
    pos = np.arange(int(ends[-1]) if len(ends) else 0)
    src = np.repeat(starts - at, lens) + pos
    terms = cp[src] * pw[np.repeat(ends - 1, lens) - pos] % CHARFOLD_MOD
    # the trailing 0 keeps every reduceat index in range for empty tails
    h = np.add.reduceat(np.append(terms, 0), at) % CHARFOLD_MOD
    h[lens == 0] = 0
    return h, pw[lens]


def _windows(vals, nper, w, step, short=None):
    """Combine every run of ``w`` consecutive values inside one
    document. ``vals`` holds the documents' values end to end, ``nper``
    per document. All runs are folded at once: ``acc`` starts as
    ``vals`` and ``acc = step(acc, s)`` adds each run's j-th value,
    ``s`` being the slice of ``vals`` shifted by j (j = 1..w-1); runs
    that cross a document boundary are then dropped. Returns (out,
    nwin), the runs document by document and their count per document,
    ``max(nper - w + 1, 0)``. Given ``short``, a document with fewer
    than ``w`` values gets one value instead: ``short(mask)`` returns
    them for the documents in ``mask``."""
    nwin = np.maximum(nper - (w - 1), 0)
    acc = vals[: max(len(vals) - (w - 1), 0)]
    tail = len(acc)
    for j in range(1, w):
        acc = step(acc, slice(j, tail + j))
    wstart = np.cumsum(nwin) - nwin
    out = acc[np.repeat(np.cumsum(nper) - nper - wstart, nwin) + np.arange(int(nwin.sum()))]
    if short is None:
        return out, nwin
    mask = nper < w
    return np.insert(out, wstart[mask], short(mask)), np.maximum(nwin, 1)


def _minima(vals, counts, consts, mod):
    """MinHash minima: for each (a, b) in ``consts``, the per-document
    minimum of ``(a*v + b) mod mod`` over its ``counts`` values — one
    ``np.minimum.reduceat`` per permutation. Min over the multiset
    equals min over the distinct set, so no dedup pass. Every count
    must be >= 1: ``reduceat`` over an empty segment returns the NEXT
    document's first value, so a zero count raises instead."""
    if len(counts) and int(np.min(counts)) < 1:
        raise ValueError("_minima: every document needs at least one value")
    starts = np.cumsum(counts) - counts
    return [pa.array(np.minimum.reduceat((a * vals + b) % mod, starts)) for a, b in consts]


def _word_gram_hashes(strings, k):
    """charfold hashes of every space-joined ``k``-token shingle of
    split(text, ' ') (single-space split, empties kept; a null text has
    no tokens), composed from per-token (h, p) folds exactly like
    ``kgram_hashes_from_hp``: ``acc = ((acc*31 + 32)*p + h) mod m``.
    Returns (sh, nsh), nsh = max(tokens - k + 1, 0) per text."""
    cp, starts, lens, valid = _code_points(strings)
    # a separator after every non-null text: each token is then the run
    # of code points before a separator
    sepd = np.insert(cp, (starts + lens)[valid], _SPACE)
    sep = np.flatnonzero(sepd == _SPACE)
    tstart = np.concatenate(([0], sep + 1))[: len(sep)]
    h, p = _fold(sepd, tstart, sep - tstart)
    spaces = np.concatenate(([0], np.cumsum(cp == _SPACE)))
    ntok = np.where(valid, spaces[starts + lens] - spaces[starts] + 1, 0)
    return _windows(h, ntok, k, lambda acc, s: ((acc * 31 + 32) * p[s] + h[s]) % CHARFOLD_MOD)


def _char_gram_hashes(strings, k):
    """charfold hash of every k-CHAR gram per text, replicating
    ``charfold_gram_hashes_from_cps(char_codepoints(text), k)`` exactly:
    a text of len >= k has the ``len-k+1`` rolling folds; a shorter one
    ONE truncated gram, the fold of the whole text — 0 for the empty
    text (its ``sequence(1, 0)`` codepoint artifact ``[0, 0]`` folds to
    0). Returns (gh, nper, nulls). A null text holds one 0-sentinel
    gram the caller surfaces as NULL: the expression form's
    ``size(null) = -1`` floors the gram count at 1, and that gram's
    fold is null."""
    cp, starts, lens, valid = _code_points(strings)
    gh, nper = _windows(
        cp,
        lens,
        k,
        lambda acc, s: (acc * 31 + cp[s]) % CHARFOLD_MOD,
        short=lambda m: _fold(cp, starts[m], lens[m])[0],
    )
    return gh, nper, ~valid


def _distinct_lists(vals, nper, nulls):
    """Per-document sorted-distinct of a concatenated value array, as
    the (offsets, values) of an Arrow list column: each document in the
    ``nulls`` mask holds one NULL slot. Consumers are set-shaped
    (joins / intersections / explodes), so the ascending order vs
    array_distinct's first-occurrence order is value-invisible."""
    n = len(nper)
    doc = np.repeat(np.arange(n, dtype=np.int64), nper)
    order = np.lexsort((vals, doc))
    v, d = vals[order], doc[order]
    keep = np.ones(len(v), bool)
    keep[1:] = (v[1:] != v[:-1]) | (d[1:] != d[:-1])
    v, d = v[keep], d[keep]
    offsets = np.zeros(n + 1, np.int64)
    np.cumsum(np.bincount(d, minlength=n), out=offsets[1:])
    mask = np.zeros(len(v), bool)
    mask[offsets[:-1][nulls]] = True
    return offsets, pa.array(v, pa.int64(), mask=mask)


def token_hash_sig_gen(consts, shingle_words: int, id_name: str):
    """mapInArrow generator for :func:`dedup.minhash_signatures`:
    (id, _th: list<int64>) batches → (id, sig_0..sig_{K-1}), where
    _th[j] = pmod(xxhash64(token_j), _P), rows pre-filtered to
    ≥ ``shingle_words`` tokens. Shingle hash: ``acc = (acc·31 + th·37)
    mod _P`` over ``shingle_words`` consecutive tokens; sig_i = min over
    shingles of (a_i·s + b_i) mod _P for (a_i, b_i) in ``consts`` —
    bit-identical to array_min(transform(shingles, h_i))."""

    def gen(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            lists = batch.column(1)
            th = lists.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
            ntok = np.diff(lists.offsets.to_numpy()).astype(np.int64)
            sh, nsh = _windows(th, ntok, shingle_words, lambda acc, s: (acc * 31 + th[s] * 37) % _P)
            sigs = _minima(sh, nsh, consts, _P)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), *sigs], names=[id_name] + [f"sig_{i}" for i in range(len(sigs))]
            )

    return gen


def charfold_sig_gen(gram: int, a_consts, b_consts, modulus: int, id_name: str):
    """mapInArrow generator: (id, text) batches → (id, s0..s{K-1})
    MinHash signatures over charfold-hashed ``gram``-word shingles,
    s_i = min over shingles of (a_i·h + b_i) mod ``modulus``. Rows are
    pre-filtered to ≥ ``gram`` tokens (≥ 1 shingle); values match the
    array_min/transform expression form bit-for-bit."""
    consts = list(zip(a_consts, b_consts))

    def gen(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            sigs = _minima(*_word_gram_hashes(batch.column(1), gram), consts, modulus)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), *sigs], names=[id_name] + [f"s{i}" for i in range(len(sigs))]
            )

    return gen


def charfold_kgram_explode_gen(gram: int, passthrough: list[str]):
    """mapInArrow generator: (passthrough..., text) batches →
    (passthrough..., h) with one output row per k-gram shingle of each
    input row (rows with fewer than ``gram`` tokens, and null texts,
    emit nothing — the explode(kgram_hashes_from_hp) semantics)."""

    def gen(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            sh, nsh = _word_gram_hashes(batch.column(len(passthrough)), gram)
            take = pa.array(np.repeat(np.arange(n), nsh))
            yield pa.RecordBatch.from_arrays(
                [batch.column(i).take(take) for i in range(len(passthrough))] + [pa.array(sh)],
                names=[*passthrough, "h"],
            )

    return gen


def char_gram_items_gen(k: int, id_name: str):
    """mapInArrow generator: (id, text) → (id, _arr array<long>) where
    ``_arr`` is the distinct charfold k-char-gram hash set of the text
    (ascending order; the expression form's array_distinct keeps
    first-occurrence order, but every consumer is set-shaped). A null
    text yields the expression form's ``[null]`` one-element array."""

    def gen(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            offsets, values = _distinct_lists(*_char_gram_hashes(batch.column(1), k))
            arr = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), values)
            yield pa.RecordBatch.from_arrays([batch.column(0), arr], names=[id_name, "_arr"])

    return gen


def winnow_fp_gen(k: int, w: int, id_name: str):
    """mapInArrow generator: (id, text) → (id, fp) — the distinct
    winnowed fingerprints (min charfold k-gram hash per w-gram window,
    fewer-than-w-gram docs emit their single whole-array min), one
    output row per (doc, fingerprint). Matches
    ``explode(array_distinct(transform(sequence(1, max(ng-w+1, 1)),
    j -> array_min(slice(g, j, w)))))`` value-for-value, including the
    one NULL-fp row a null text emits (its [null] gram array's single
    window min is null)."""

    def gen(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            gh, ng, nulls = _char_gram_hashes(batch.column(1), k)
            starts = np.cumsum(ng) - ng
            wm, nwin = _windows(
                gh,
                ng,
                w,
                lambda acc, s: np.minimum(acc, gh[s]),
                short=lambda m: np.minimum.reduceat(gh, starts)[m],
            )
            offsets, fp = _distinct_lists(wm, nwin, nulls)
            ids = batch.column(0).take(pa.array(np.repeat(np.arange(n), np.diff(offsets))))
            yield pa.RecordBatch.from_arrays([ids, fp], names=[id_name, "fp"])

    return gen


def charfold_strings_gen(out: str = "_th"):
    """mapInArrow generator: (key, s) → (key, out) with ``out`` =
    charfold_hash(s) — the per-string polynomial fold vectorized over
    the batch. Value-identical to the expression form, including
    charfold_hash('') = 0 (the empty string's [0, 0] codepoint artifact
    folds to 0) and NULL for a null string. The key column passes
    through untouched."""

    def gen(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            cp, starts, lens, valid = _code_points(batch.column(1))
            h = pa.array(_fold(cp, starts, lens)[0], pa.int64(), mask=~valid)
            yield pa.RecordBatch.from_arrays([batch.column(0), h], names=[batch.schema.names[0], out])

    return gen
