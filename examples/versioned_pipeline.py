#!/usr/bin/env python
"""Versioned-table pipeline demo (round 7): the `vt://` snapshot-
manifest targets in a real incremental build — version-based
staleness, compaction immunity, cross-run job journal with failure
backoff, and a VERSION-AS-OF time-travel read.

Jobs:
  1. ``src``     — committed OUTSIDE the pipeline (an upstream ingest)
                   as versioned snapshots of the orders table.
  2. ``monthly`` — monthly revenue rollup of the CURRENT src snapshot;
                   its manifest records which src version it was built
                   from, so staleness is version arithmetic, not mtime.

Demonstrated, in order:
  cold build        → monthly runs, records inputs={src: 1}
  warm re-run       → skipped (equal versions — even though the
                      monthly commit timestamp PREDATES a data rewrite)
  compaction        → src data files rewritten IN PLACE at the same
                      version: still skipped (mtime freshness would
                      have rebuilt here — the false-positive this
                      target type eliminates)
  src v2 commit     → monthly stale by version, rebuilds from v2
  time travel       → monthly@v1 still readable via read_path(1)
  journal           → both runs' outcomes persisted across managers

Usage: python examples/versioned_pipeline.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time
from datetime import datetime, timedelta

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from builder_spark.catalog import load_table  # noqa: E402
from builder_spark.pipeline import (  # noqa: E402
    BuildManager,
    ExecutionManager,
    SparkExecutor,
    make_target,
)
from builder_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("versioned-pipeline-demo")
    root = tempfile.mkdtemp(prefix="builder_spark_vt_demo_")
    src_uri = f"vt://{root}/src"
    out_uri = f"vt://{root}/monthly"
    state = os.path.join(root, "state.jsonl")

    orders = load_table(spark, sf_dir, "orders")
    src = make_target(src_uri)

    def ingest(filter_expr) -> int:
        path = src.stage_data_path()
        orders.filter(filter_expr).write.mode("overwrite").parquet(path)
        return src.commit(data_path=path)

    v1 = ingest(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    print(f"[ingest] src committed v{v1}")

    bm = BuildManager()

    @bm.job(targets=out_uri, depends=[src_uri])
    def monthly(ctx):
        [src_path] = ctx.dep_paths[src_uri]
        return (
            ctx.spark.read.parquet(src_path)
            .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                    "revenue_cents"
                ),
            )
        )

    day = datetime(2024, 1, 1)

    def run(tag: str) -> dict[str, str]:
        em = ExecutionManager(
            bm, SparkExecutor(spark), state_path=state, failure_backoff="1h"
        )
        res = em.start_execution(day, day + timedelta(days=1))
        print(f"[{tag}] {res}")
        return res

    out = make_target(out_uri)

    r1 = run("cold   ")
    assert list(r1.values()) == ["ran"], r1
    assert out.get_version() == 1 and out.recorded_inputs() == {src_uri: 1}

    r2 = run("warm   ")
    assert list(r2.values()) == ["skipped"], r2

    # compaction: rewrite src's data files in place (same version).
    # mtime freshness would now see "new" data and rebuild; version
    # staleness correctly does nothing.
    src_data = src.read_path()
    now = time.time() + 3600
    for dirpath, _dirs, files in os.walk(src_data):
        for f in files:
            os.utime(os.path.join(dirpath, f), (now, now))
    r3 = run("compact")
    assert list(r3.values()) == ["skipped"], r3
    print("[compact] rewritten data files at same version -> still fresh")

    v2 = ingest(F.lit(True))
    print(f"[ingest] src committed v{v2} (full table)")
    r4 = run("v2     ")
    assert list(r4.values()) == ["ran"], r4
    assert out.get_version() == 2 and out.recorded_inputs() == {src_uri: 2}

    n_v1 = spark.read.parquet(out.read_path(version=1)).count()
    n_v2 = spark.read.parquet(out.read_path()).count()
    print(f"[time-travel] monthly v1: {n_v1} months; current v2: {n_v2} months")
    assert n_v2 >= n_v1

    em = ExecutionManager(bm, SparkExecutor(spark), state_path=state)
    outcomes = [h["status"] for h in em.history()]
    print(f"[journal] persisted outcomes across runs: {outcomes}")
    assert outcomes == ["ran", "ran"]

    # retention: expire src v1 (keep only the current snapshot) and
    # sweep its data + any orphaned staging dirs past the age window —
    # the VACUUM step a long-lived table schedules periodically.
    # min_age_sec=0 here because the demo's "old" snapshot is seconds
    # old; production keeps the default multi-day window so in-flight
    # writers and live time-travel readers age out first.
    res = src.vacuum(keep_last=1, min_age_sec=0.0)
    print(
        f"[vacuum] expired manifests: {res['removed_manifests']}; "
        f"swept data dirs: {res['removed_data']}"
    )
    assert src.read_path(version=1) is None  # v1 no longer time-travelable
    assert spark.read.parquet(src.read_path()).count() > 0  # current intact

    print("\nversioned pipeline demo: OK")


if __name__ == "__main__":
    main()
