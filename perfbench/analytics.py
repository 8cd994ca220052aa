"""``analytics`` workload: a closed loop with one client issuing
registry queries in a seeded order; one op is one query, fetched to the
client through pandas (``builder_spark.canon.fetch_spark``)."""

from __future__ import annotations

import os
import random

import duckdb

from builder_spark.canon import canon_rows, fetch_duckdb, fetch_spark
from builder_spark.catalog import load_table
from builder_spark.registry import load_all

import gen
from spans import QUERY_MIX

#: tables each query scans (its input rows per op)
TABLES = {
    "q_agg_group": ["lineitem"],
    "q_join_multi": ["lineitem", "orders", "customer", "nation", "region"],
    "q_join_asof": ["events", "orders"],
    "q_window_topk_group": ["orders"],
    "q_win_session": ["events"],
    "q_union_distinct": ["orders", "customer"],
    "q_dedup_exact": ["documents"],
    "q_decile_stats": ["lineitem"],
    "q_group_decile_bands": ["lineitem"],
}


class Analytics:
    name = "analytics"
    #: the loop stops only after whole passes through the mix
    cycle = len(QUERY_MIX)

    def __init__(self, run_dir: str, seed: int, scale: float = 2.0):
        self.in_dir = os.path.join(run_dir, "inputs")
        self.seed = seed
        self.scale = scale
        registry = load_all()
        self.registry = {q: registry[q] for q in QUERY_MIX}
        order = list(QUERY_MIX)
        random.Random(seed).shuffle(order)
        self.order = order
        self.expected: dict[str, list[str]] = {}

    def generate(self) -> None:
        self.truth = gen.gen_analytics(self.in_dir, self.seed, self.scale)
        con = duckdb.connect()
        for t in self.truth["rows"]:
            path = os.path.join(self.in_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for q in QUERY_MIX:
            self.expected[q] = canon_rows(*fetch_duckdb(con, self.registry[q].oracle))
        con.close()
        # each original has one copy; the dedup keeps the lower id
        self.planted = {max(a, b) for a, b in self.truth["exact_pairs"]}
        self.dedup_found: list[float] = []

    def _run(self, spark, tr, q: str) -> tuple[str, list[str], list[tuple]]:
        if tr.enabled:
            for t in TABLES[q]:
                with tr.span("catalog.scan") as sp:
                    df = load_table(spark, self.in_dir, t)
                    df.write.format("noop").mode("overwrite").save()
                    sp.count("rows", self.truth["rows"][t])
        with tr.span(f"queries.{q}"):
            cols, rows = fetch_spark(self.registry[q].fn(spark, self.in_dir))
        return q, cols, rows

    def backfill(self, spark, tr) -> list:
        """Cold pass: every query of the mix once, in seeded order."""
        return [self._run(spark, tr, q) for q in self.order]

    def prepare(self, i: int) -> None:
        pass

    def op(self, spark, tr, i: int) -> list:
        return [self._run(spark, tr, self.order[i % len(self.order)])]

    def rows(self, res: list) -> int:
        return sum(self.truth["rows"][t] for q, _, _ in res for t in TABLES[q])

    def check(self, res: list) -> bool:
        ok = True
        for q, cols, rows in res:
            ok &= canon_rows(cols, rows) == self.expected[q]
            if q == "q_dedup_exact":
                kept = {r[cols.index("doc_id")] for r in rows}
                self.dedup_found.append(len(self.planted - kept) / len(self.planted))
        return ok

    def final_check(self, spark) -> None:
        """Every query result was checked against its oracle."""

    def recall(self) -> float:
        return min(self.dedup_found)
