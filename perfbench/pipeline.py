"""``pipeline`` workload: hourly event landings feed a three-job DAG run
by ``ExecutionManager`` with ``SparkExecutor``. A run is a cold
backfill, then ticks; one op is one tick."""

from __future__ import annotations

import os
import random
from datetime import timedelta

import duckdb
from pyspark.sql import functions as F

from builder_spark.operators.dedup import exact_dedup
from builder_spark.pipeline import BuildManager, ExecutionManager, SparkExecutor
from builder_spark.sources.io import read_parquet, write_parquet

import gen
from spans import NullTracer, count_written

DAYS = 2
HOURS = 24 * DAYS
#: hours landed before the backfill; ticks land the rest one at a time
FIRST_LANDED = 26
#: hours re-landed once before the backfill, so duplicates exist from the start
EARLY_REWRITES = 4
#: ticks come in cycles of three: late data for a complete day (the
#: daily and summary jobs rebuild), late data for the current day (only
#: hourly jobs run), and a no-op tick
CYCLE = 3
#: a day rolls up per-type totals; the summary job rolls up days
START = gen.PIPELINE_START
END = START + timedelta(days=DAYS)
CENTS = "CAST(round(value * 100) AS BIGINT)"


def _day(h: int) -> int:
    return h // 24


class _TracedExecutor:
    """SparkExecutor with a span per job, parented to the tick's span."""

    def __init__(self, inner: SparkExecutor, tr, parent) -> None:
        self.inner, self.tr, self.parent = inner, tr, parent

    def execute(self, cj) -> None:
        with self.tr.span("pipeline.execute", parent=self.parent):
            self.inner.execute(cj)


class Pipeline:
    name = "pipeline"
    cycle = CYCLE

    def __init__(self, run_dir: str, seed: int, events_per_hour: int = 2000):
        self.root = os.path.join(run_dir, "pipeline")
        self.seed = seed
        self.rng = random.Random(seed)
        self.landings = gen.Landings(os.path.join(self.root, "raw"), seed, events_per_hour)
        self.raw_pat = os.path.join(self.root, "raw", "%Y-%m-%dT%H")
        self.hourly_pat = os.path.join(self.root, "hourly", "%Y-%m-%dT%H")
        self.daily_pat = os.path.join(self.root, "daily", "%Y-%m-%d")
        self.summary_pat = os.path.join(self.root, "summary", "%Y-%m-%d")
        self.tr = NullTracer()
        self.bm = self._graph()
        self.next_hour = FIRST_LANDED
        self.changed: set[int] = set()
        self.tick_rows = 0
        # model of what exists, to predict each tick's ran set
        self.built_hours: set[int] = set()
        self.built_days: set[int] = set()
        self.built_summary = False
        self.dedup_recall = 0.0

    # --- the DAG ----------------------------------------------------------

    def _write(self, df, path: str) -> None:
        with self.tr.span("sources.write") as sp:
            write_parquet(df, path)
            if self.tr.enabled:
                count_written(sp, path)

    def _graph(self) -> BuildManager:
        bm = BuildManager()

        @bm.job(targets=self.hourly_pat, depends=[self.raw_pat], file_step="1 hour")
        def hourly(ctx):
            raw = read_parquet(ctx.spark, ctx.dep_paths[self.raw_pat][0])
            events = exact_dedup(raw, key="event_id", order_col="ts")
            self._write(
                events.groupBy("event_type").agg(
                    F.count(F.lit(1)).alias("n"), F.sum(F.expr(CENTS)).alias("cents")
                ),
                ctx.target_path,
            )

        @bm.job(targets=self.daily_pat, depends=[self.hourly_pat], file_step="1 day")
        def daily(ctx):
            h = ctx.spark.read.parquet(*ctx.dep_paths[self.hourly_pat])
            self._write(
                h.groupBy("event_type").agg(
                    F.sum("n").alias("n"), F.sum("cents").alias("cents")
                ),
                ctx.target_path,
            )

        @bm.job(
            targets=self.summary_pat,
            depends_one_or_more=[self.daily_pat],
            file_step=f"{DAYS} days",
        )
        def summary(ctx):
            d = ctx.spark.read.parquet(*ctx.dep_paths[self.daily_pat])
            self._write(
                d.groupBy("event_type").agg(
                    F.sum("n").alias("n"),
                    F.sum("cents").alias("cents"),
                    F.count(F.lit(1)).alias("days"),
                ),
                ctx.target_path,
            )

        return bm

    # --- landings and the expected outcome of a build ---------------------

    def generate(self) -> None:
        for h in range(FIRST_LANDED):
            self.landings.land(h)
        for h in self.rng.sample(range(FIRST_LANDED), EARLY_REWRITES):
            self.landings.land(h)
        self.changed = set(range(FIRST_LANDED))

    def prepare(self, i: int) -> None:
        """Land this tick's data; runs outside the timed region."""
        self.changed = set()
        self.tick_rows = 0
        if i % CYCLE == CYCLE - 1:
            return
        cur = 24 * _day(self.next_hour)
        complete, current = range(cur), range(cur, self.next_hour)
        pool = current if i % CYCLE == 1 and len(current) else complete
        late = self.rng.choice(pool)
        if self.next_hour < HOURS:
            self.changed.add(self.next_hour)
            self.next_hour += 1
        self.changed.add(late)
        for h in sorted(self.changed):
            self.tick_rows += self.landings.land(h)

    def _expected(self) -> dict[str, str]:
        """unique_id -> 'ran'/'skipped' predicted from the landing state."""
        ran_hours = set(self.changed)
        self.built_hours |= ran_hours
        ran_days = {
            d
            for d in range(DAYS)
            if all(h in self.built_hours for h in range(24 * d, 24 * d + 24))
            and (d not in self.built_days or any(_day(h) == d for h in ran_hours))
        }
        self.built_days |= ran_days
        ran_summary = bool(self.built_days) and (not self.built_summary or bool(ran_days))
        self.built_summary |= ran_summary
        out = {}
        for h in range(HOURS):
            out[f"hourly@{(START + timedelta(hours=h)).isoformat()}"] = (
                "ran" if h in ran_hours else "skipped"
            )
        for d in range(DAYS):
            out[f"daily@{(START + timedelta(days=d)).isoformat()}"] = (
                "ran" if d in ran_days else "skipped"
            )
        out[f"summary@{START.isoformat()}"] = "ran" if ran_summary else "skipped"
        return out

    # --- the op -----------------------------------------------------------

    def _build(self, spark, tr) -> dict:
        self.tr = tr
        try:
            if tr.enabled:
                with tr.span("pipeline.expand") as sp:
                    bg = self.bm.expand(START, END)
                    sp.count("concrete_jobs", len(bg.jobs))
                    sp.count("edges", bg.graph.number_of_edges())
                with tr.span("pipeline.should_run") as sp:
                    sp.count("stale_jobs", sum(cj.get_should_run() for cj in bg.topological()))
            with tr.span("pipeline.schedule") as sched:
                executor = SparkExecutor(spark)
                if tr.enabled:
                    executor = _TracedExecutor(executor, tr, sched)
                em = ExecutionManager(self.bm, executor)
                got = em.start_execution(START, END, max_workers=os.cpu_count() or 1)
                for status in ("ran", "skipped", "failed"):
                    sched.count(status, sum(v == status for v in got.values()))
        finally:
            self.tr = NullTracer()
        return {"got": got, "expected": self._expected(), "rows": self.tick_rows}

    def backfill(self, spark, tr) -> dict:
        self.tick_rows = sum(self.landings.rows.values())
        return self._build(spark, tr)

    def op(self, spark, tr, i: int) -> dict:
        return self._build(spark, tr)

    def rows(self, res: dict) -> int:
        return res["rows"]

    # --- checks -----------------------------------------------------------

    def check(self, res: dict) -> bool:
        return res["got"] == res["expected"]

    def final_check(self, spark) -> bool:
        """Daily outputs equal DuckDB's rollup of every raw hour."""
        con = duckdb.connect()
        raw = os.path.join(self.root, "raw", "*", "*.parquet")
        want = con.execute(
            f"""
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
                   count(*) AS n, CAST(sum({CENTS}) AS BIGINT) AS cents
            FROM (SELECT DISTINCT * FROM read_parquet('{raw}'))
            GROUP BY ALL
            """
        ).fetchall()
        complete = {
            (START + timedelta(days=d)).date()
            for d in range(DAYS)
            if all(h in self.landings.version for h in range(24 * d, 24 * d + 24))
        }
        want = sorted(r for r in want if r[0] in complete)
        got = []
        for d in sorted(complete):
            path = d.strftime(self.daily_pat)
            rows = con.execute(
                f"SELECT event_type, n, cents FROM read_parquet('{path}/*.parquet')"
            ).fetchall()
            got += [(d, t, n, c) for t, n, c in rows]
        hourly_n = con.execute(
            f"SELECT sum(n) FROM read_parquet('{os.path.join(self.root, 'hourly', '*', '*.parquet')}')"
        ).fetchone()[0]
        con.close()
        raw_rows = sum(self.landings.rows.values())
        planted = sum(self.landings.planted_dups.values())
        self.dedup_recall = (raw_rows - hourly_n) / planted
        return sorted(got) == want

    def recall(self) -> float:
        return self.dedup_recall
