"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same seed writes byte-identical parquet. Planted ground truth (which
documents are copies of which, which vectors were perturbed, which
event rows are re-deliveries) is written as JSON next to the inputs and
is read only by the benchmark's own checks, never by the program.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SYLLABLES = [
    "ka", "lo", "mi", "ne", "ru", "ta", "vo", "pe", "si", "da", "gu", "ho", "ze",
    "bi", "fa", "jo", "ly", "wa", "xe", "qu", "on", "el", "ar", "is", "um",
]

#: quality gate thresholds, shared by the Spark op and the DuckDB check
MIN_TOKENS = 40
MIN_DISTINCT_RATIO = 0.3


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase pseudo-words of 2-4 syllables."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), k))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _write_json(obj, path: str) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


# ---------------------------------------------------------------------------
# curation: documents + embeddings with planted duplicates


def documents(
    rng: np.random.Generator, n_docs: int, dup_share: float = 0.2, exact_share: float = 0.3
) -> tuple[list[str], list[tuple[int, int]], list[tuple[int, int]]]:
    """Texts drawn from a Zipf vocabulary with planted duplicates.

    Returns (texts indexed by doc_id, exact copy pairs (orig, copy),
    near-duplicate pairs (orig, edited copy)). A copy is verbatim with
    probability ``exact_share``; otherwise about 10% of its tokens are
    redrawn from the vocabulary. A few base documents are short or
    repetitive so the quality gate has work to do. Doc ids are a seeded
    shuffle, so an original may sort after its copy.
    """
    vocab = np.array(_vocab(rng, 4000))
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    zipf /= zipf.sum()
    n_dup = int(n_docs * dup_share)
    n_base = n_docs - n_dup
    base: list[np.ndarray] = []
    for _ in range(n_base):
        kind = rng.random()
        if kind < 0.05:  # too short for the gate
            toks = rng.choice(len(vocab), int(rng.integers(8, 30)), p=zipf)
        elif kind < 0.08:  # repetitive: low distinct ratio
            # words drawn uniformly, so repetitive documents do not all
            # share the head of the Zipf curve and collide in every band
            few = rng.choice(len(vocab), 5)
            toks = rng.choice(few, int(rng.integers(60, 120)))
        else:
            toks = rng.choice(len(vocab), int(rng.integers(50, 160)), p=zipf)
        base.append(toks)
    # one copy per original at most: components are pairs, so the cluster
    # step does the same number of rounds whatever the seed
    origins = rng.choice(n_base, n_dup, replace=False)
    copies: list[np.ndarray] = []
    exact_flags = rng.random(n_dup) < exact_share
    for o, exact in zip(origins, exact_flags):
        toks = base[o].copy()
        if not exact:
            m = rng.random(len(toks)) < 0.1
            toks[m] = rng.choice(len(vocab), int(m.sum()), p=zipf)
        copies.append(toks)
    order = rng.permutation(n_docs)  # position -> doc_id
    all_toks = base + copies
    texts = [""] * n_docs
    for pos, toks in enumerate(all_toks):
        texts[int(order[pos])] = " ".join(vocab[toks])
    exact_pairs, near_pairs = [], []
    for j, (o, exact) in enumerate(zip(origins, exact_flags)):
        pair = (int(order[o]), int(order[n_base + j]))
        (exact_pairs if exact else near_pairs).append(pair)
    return texts, exact_pairs, near_pairs


def documents_table(rng: np.random.Generator, texts: list[str]) -> pa.Table:
    """The FIXTURES.md ``documents`` schema around generated texts."""
    n = len(texts)
    langs = np.array(["en", "de", "es", "fr", "zh"])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs[rng.integers(0, 5, n)]),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings(rng: np.random.Generator, n: int, dup_share: float = 0.1):
    """64-dim float32 vectors; ``dup_share`` of them are small
    perturbations (cosine about 0.98) of another vector. Returns
    (table, planted (orig, copy) pairs, the vectors as a matrix)."""
    n_dup = int(n * dup_share)
    base = rng.standard_normal((n - n_dup, 64))
    origins = rng.integers(0, n - n_dup, n_dup)
    noisy = base[origins] + 0.2 * rng.standard_normal((n_dup, 64))
    vecs = np.vstack([base, noisy]).astype(np.float32)
    order = rng.permutation(n)
    out = np.empty_like(vecs)
    out[order] = vecs
    pairs = [(int(order[o]), int(order[n - n_dup + j])) for j, o in enumerate(origins)]
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(out.ravel()), 64
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )
    return table, pairs, out


def gen_curation(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    texts, exact_pairs, near_pairs = documents(rng, n_docs)
    _write(documents_table(rng, texts), os.path.join(out_dir, "documents.parquet"))
    emb, emb_pairs, vectors = embeddings(rng, n_vecs)
    _write(emb, os.path.join(out_dir, "embeddings.parquet"))
    truth = {
        "exact_pairs": exact_pairs,
        "near_pairs": near_pairs,
        "embedding_pairs": emb_pairs,
    }
    _write_json(truth, os.path.join(out_dir, "truth.json"))
    return {"texts": texts, "vectors": vectors, **truth}


# ---------------------------------------------------------------------------
# analytics: star schema + events (FIXTURES.md schemas and value domains)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _days(rng, lo: datetime, hi: datetime, n: int) -> pa.Array:
    """``n`` uniform midnight timestamps in [lo, hi) as timestamp[ms]."""
    span = (hi - lo).days
    base = np.datetime64(lo, "ms")
    d = base + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[ms]"))


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def events_table(
    rng: np.random.Generator, n: int, n_users: int, start: datetime, hours: int, first_id: int = 0
) -> pa.Table:
    """``n`` events uniform over ``hours`` hours from ``start``."""
    us = rng.integers(0, hours * 3_600_000_000, n)
    us.sort()
    ts = np.datetime64(start, "us") + us.astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
            "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(_cents(rng, 0.01, 490.0, n)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def gen_analytics(out_dir: str, seed: int, scale: float) -> dict:
    """Star schema + events + documents at ``scale`` x sf0.01 row
    counts. Documents carry planted exact duplicates for the exact
    dedup query; the truth file records them."""
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp, n_part = int(1500 * scale), int(100 * scale), int(2000 * scale)
    n_ord, n_li, n_ev = int(15000 * scale), int(60000 * scale), int(10000 * scale)
    t = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_cents(rng, -999.0, 9999.0, n_cust)),
            "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_cents(rng, -999.0, 9999.0, n_supp)),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": [f"part {i}" for i in range(n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pa.array(
                np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL"])[
                    rng.integers(0, 5, n_part)
                ]
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(_cents(rng, 900.0, 2100.0, n_part)),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_cents(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": _days(rng, datetime(1995, 1, 1), datetime(2001, 8, 2), n_ord),
            "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)]),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_cents(rng, 900.0, 105000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
            "l_shipdate": _days(rng, datetime(1995, 1, 2), datetime(2001, 11, 5), n_li),
        }
    )
    # user ids overlap customer keys so the as-of join finds orders
    t["events"] = events_table(rng, n_ev, max(150, n_cust // 10), datetime(2024, 1, 1), 30 * 24)
    texts, exact_pairs, _ = documents(rng, int(500 * scale), dup_share=0.2, exact_share=1.0)
    t["documents"] = documents_table(rng, texts)
    for name, table in t.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    truth = {"exact_pairs": exact_pairs, "rows": {k: v.num_rows for k, v in t.items()}}
    _write_json(truth, os.path.join(out_dir, "truth.json"))
    return truth


# ---------------------------------------------------------------------------
# pipeline: hourly event landings

PIPELINE_START = datetime(2024, 3, 1)


class Landings:
    """Seeded hourly event files for the pipeline workload.

    Each landing of hour ``h`` is a function of (seed, h, version)
    alone. A rewrite re-delivers 5% of the hour's events verbatim (same
    event_id): those are the planted duplicates.
    """

    def __init__(self, raw_dir: str, seed: int, events_per_hour: int, n_users: int = 400):
        self.raw_dir = raw_dir
        self.seed = seed
        self.per_hour = events_per_hour
        self.n_users = n_users
        self.version: dict[int, int] = {}
        self.planted_dups: dict[int, int] = {}  # hour -> duplicate rows in its file
        self.rows: dict[int, int] = {}

    def path(self, hour: int) -> str:
        return (PIPELINE_START + timedelta(hours=hour)).strftime(
            os.path.join(self.raw_dir, "%Y-%m-%dT%H")
        )

    def land(self, hour: int) -> int:
        """Write the next version of ``hour``; returns its row count.
        Version 0 is the hour's events; version v > 0 is the same events
        plus 20 late ones (ids unique to v) plus re-delivered copies of
        5% of the originals."""
        v = self.version.get(hour, -1) + 1
        self.version[hour] = v
        start = PIPELINE_START + timedelta(hours=hour)
        first_id = hour * 1_000_000
        t = events_table(
            np.random.default_rng([self.seed, 3, hour]),
            self.per_hour, self.n_users, start, 1, first_id,
        )
        n_dup = 0
        if v > 0:
            rng = np.random.default_rng([self.seed, 3, hour, v])
            late = events_table(
                rng, 20, self.n_users, start, 1, first_id + self.per_hour + 20 * (v - 1)
            )
            idx = np.sort(rng.choice(t.num_rows, self.per_hour // 20, replace=False))
            n_dup = len(idx)
            t = pa.concat_tables([t, late, t.take(pa.array(idx))])
        path = self.path(hour)
        tmp = path + ".landing"
        os.makedirs(tmp, exist_ok=True)
        pq.write_table(t, os.path.join(tmp, "part-0.parquet"))
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
        self.planted_dups[hour] = n_dup
        self.rows[hour] = t.num_rows
        return t.num_rows
