"""``curation`` workload: one op is a full corpus-curation pass.

exact dedup -> MinHash signatures -> LSH candidates -> Jaccard
verification -> near-dup clusters -> embedding near-dups (banded LSH)
-> quality gate -> hash split -> parquet write.
"""

from __future__ import annotations

import os
import shutil
from decimal import ROUND_HALF_UP, Decimal

import duckdb
from pyspark.sql import functions as F

from builder_spark.catalog import load_table
from builder_spark.functions.hashing import KNUTH, knuth_bucket
from builder_spark.functions.text import token_stats
from builder_spark.operators.dedup import (
    dedup_clusters,
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_candidates,
    minhash_signatures,
)
from builder_spark.operators.similarity import embedding_near_dupes_lsh, hyperplanes
from builder_spark.sources.io import write_parquet

import gen
from spans import count_written

JACCARD_MIN = 0.6
COSINE_MIN = 0.9
#: 48 sign-bit planes in 4 bands of 12 bits: 4096 buckets per band, so
#: random vectors rarely collide while cosine-0.98 copies usually do
PLANES = hyperplanes(dim=64, n_planes=48, seed=7)
N_BANDS = 4


def _round4(x: float) -> float:
    """Spark's ``round(x, 4)``: half-up on the shortest decimal repr."""
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def _materialize(df, tr):
    """In the traced run, compute ``df`` now so its span owns the work;
    untraced, leave it lazy for the next stage to pull."""
    return df.localCheckpoint(eager=True) if tr.enabled else df


class Curation:
    name = "curation"
    cycle = 1

    def __init__(self, run_dir: str, seed: int, n_docs: int = 5_000, n_vecs: int = 5_000):
        self.in_dir = os.path.join(run_dir, "inputs")
        self.out_root = os.path.join(run_dir, "out")
        self.seed = seed
        self.n_docs, self.n_vecs = n_docs, n_vecs
        self.truth: dict = {}
        self.reference: dict | None = None
        self.recalls: list[float] = []

    def generate(self) -> None:
        self.truth = gen.gen_curation(self.in_dir, self.seed, self.n_docs, self.n_vecs)
        self.planted_emb = {(min(a, b), max(a, b)) for a, b in self.truth["embedding_pairs"]}
        texts = self.truth["texts"]
        # an edit that happened to change nothing made an exact copy
        self.planted_near = {
            (min(a, b), max(a, b)) for a, b in self.truth["near_pairs"] if texts[a] != texts[b]
        }

    # --- the op -----------------------------------------------------------

    def _pass(self, spark, tr, out_dir: str) -> dict:
        with tr.span("catalog.scan") as sp:
            docs = load_table(spark, self.in_dir, "documents")
            emb = load_table(spark, self.in_dir, "embeddings")
            if tr.enabled:
                sp.count("rows", docs.count() + emb.count())
        with tr.span("dedup.exact") as sp:
            # three stages below consume the survivors: compute them once
            exact = exact_dedup(docs, key="text", order_col="doc_id").localCheckpoint(eager=True)
            if tr.enabled:
                sp.count("rows_out", exact.count())
        with tr.span("dedup.signatures") as sp:
            sigs = minhash_signatures(exact, "doc_id", "text", k=16)
            if tr.enabled:
                sp.count("rows", sigs.count())
        with tr.span("dedup.candidates") as sp:
            cands = _materialize(minhash_lsh_candidates(sigs, "doc_id", k=16, bands=8), tr)
            if tr.enabled:
                sp.count("candidates", cands.count())
        with tr.span("dedup.verify") as sp:
            pairs = jaccard_pairs(exact, "doc_id", "text", JACCARD_MIN, candidates=cands)
            pairs = pairs.localCheckpoint(eager=True)
            pair_rows = pairs.collect()
            sp.count("pairs", len(pair_rows))
        with tr.span("dedup.clusters") as sp:
            clusters = dedup_clusters(pairs)
            dropped = [r.doc_id for r in clusters.filter("doc_id != cluster_id").collect()]
            sp.count("docs", len(dropped))
        with tr.span("similarity.near_dupes") as sp:
            emb_pairs = embedding_near_dupes_lsh(
                emb, threshold=COSINE_MIN, planes=PLANES, n_bands=N_BANDS
            ).localCheckpoint(eager=True)
            emb_rows = emb_pairs.collect()
            sp.count("pairs", len(emb_rows))
            if tr.enabled:
                found = {(r.id_a, r.id_b) for r in emb_rows}
                sp.count("planted", len(self.planted_emb))
                sp.count("planted_found", len(self.planted_emb & found))
        removed = clusters.filter("doc_id != cluster_id").select("doc_id").union(
            emb_pairs.select(F.col("id_b").alias("doc_id"))
        )
        with tr.span("functions.text.quality") as sp:
            st = token_stats("text")
            gated = _materialize(
                exact.join(removed, "doc_id", "left_anti").filter(
                    (st["n_tokens"] >= gen.MIN_TOKENS)
                    & (st["distinct_ratio"] >= gen.MIN_DISTINCT_RATIO)
                ),
                tr,
            )
            if tr.enabled:
                sp.count("kept_rows", gated.count())
        bucket = knuth_bucket("doc_id", 100)
        split = F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
        with tr.span("sources.write") as sp:
            write_parquet(
                gated.select("doc_id", "text", split.alias("split")),
                out_dir,
                partition_by=["split"],
            )
            if tr.enabled:
                count_written(sp, out_dir)
        return {
            "pairs": [(r.id_a, r.id_b, r.jaccard) for r in pair_rows],
            "emb_pairs": [(r.id_a, r.id_b, r.cos_sim) for r in emb_rows],
            "removed": set(dropped) | {r.id_b for r in emb_rows},
            "out_dir": out_dir,
        }

    def backfill(self, spark, tr) -> dict:
        return self.op(spark, tr, "backfill")

    def prepare(self, i: int) -> None:
        pass

    def op(self, spark, tr, i) -> dict:
        return self._pass(spark, tr, os.path.join(self.out_root, f"pass{i}"))

    def rows(self, res: dict) -> int:
        return self.n_docs

    # --- checks -----------------------------------------------------------

    def _reference(self) -> dict:
        """DuckDB's exact-dedup survivors, gate verdicts and splits."""
        con = duckdb.connect()
        docs = os.path.join(self.in_dir, "documents.parquet")
        rows = con.execute(
            f"""
            WITH d AS (
                SELECT doc_id, text,
                       row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
                FROM read_parquet('{docs}')
            ), t AS (
                SELECT doc_id, string_split(text, ' ') AS toks FROM d WHERE rn = 1
            )
            SELECT doc_id,
                   len(toks) >= {gen.MIN_TOKENS}
                   AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                       >= {gen.MIN_DISTINCT_RATIO} AS keep,
                   CASE WHEN (CAST(doc_id AS HUGEINT) * {KNUTH}) % 4294967296 % 100 < 80
                        THEN 'train'
                        WHEN (CAST(doc_id AS HUGEINT) * {KNUTH}) % 4294967296 % 100 < 90
                        THEN 'val' ELSE 'test' END AS split
            FROM t
            """
        ).fetchall()
        con.close()
        return {doc_id: (keep, split) for doc_id, keep, split in rows}

    def check(self, res: dict) -> bool:
        """Exact dedup + split vs DuckDB, every reported pair re-verified
        in Python, and recall of the planted near-duplicate pairs."""
        if self.reference is None:
            self.reference = self._reference()
        texts = self.truth["texts"]
        ok = True
        for a, b, jac in res["pairs"]:
            ta, tb = set(texts[a].split(" ")), set(texts[b].split(" "))
            exact = len(ta & tb) / len(ta | tb)
            if not (a < b and _round4(exact) == jac and jac >= JACCARD_MIN):
                ok = False
        vecs = self.truth["vectors"]
        for a, b, cos in res["emb_pairs"]:
            va, vb = vecs[a].astype("float64"), vecs[b].astype("float64")
            exact = float(va @ vb / ((va @ va) ** 0.5 * (vb @ vb) ** 0.5))
            if not (a < b and abs(exact - cos) < 1e-4 and cos >= COSINE_MIN):
                ok = False
        removed = res["removed"]
        expected = {
            d: split
            for d, (keep, split) in self.reference.items()
            if keep and d not in removed
        }
        con = duckdb.connect()
        got = dict(
            con.execute(
                f"SELECT doc_id, split FROM read_parquet('{res['out_dir']}/*/*.parquet',"
                " hive_partitioning = true)"
            ).fetchall()
        )
        con.close()
        if got != expected:
            ok = False
        found = {(a, b) for a, b, _ in res["pairs"]}
        self.recalls.append(len(self.planted_near & found) / len(self.planted_near))
        shutil.rmtree(res["out_dir"], ignore_errors=True)
        return ok

    def final_check(self, spark) -> None:
        """Every pass was checked on its own."""

    def recall(self) -> float:
        return min(self.recalls)
