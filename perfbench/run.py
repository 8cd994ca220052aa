#!/usr/bin/env python3
"""Benchmark of the builder_spark package: curation, analytics and
pipeline workloads through the package's public functions.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench_runs/`` in the checkout (with their planted ground
truth), outputs are checked, and the last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("curation", "analytics", "pipeline")
#: cold session starts per run; setup_s is their median
N_SETUPS = 3
#: trivial actions timed after warmup; session.noop_action_s is their median
N_NOOP = 7


def _isolate(run_dir: str) -> None:
    """Give this run its own temp, Spark-local and scratch roots, so no
    cache file or scratch directory outlives it."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    tempfile.tempdir = None
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    # the JVM's temp files stay in the run directory too; no progress bar
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        # heap committed up front, so peak RSS does not follow G1's
        # run-to-run heap-sizing decisions
        f'--driver-java-options "-Xms{os.environ["SPARK_GRAFT_DRIVER_MEM"]} -XX:-UsePerfData'
        f' -Djava.io.tmpdir={os.environ["TMPDIR"]}"'
        " --conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _hwm_mb(pid: int) -> float:
    """Peak resident set of ``pid`` in MB, from /proc."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Session:
    """The engine's SparkSession. The first ``start`` launches the JVM;
    later ones stop the SparkContext and build a new one in that JVM."""

    def __init__(self) -> None:
        self.spark = None

    def start(self) -> float:
        from builder_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return dt

    def warmup(self, scratch: str) -> float:
        """The session's first jobs: a small parquet write, then a scan,
        a shuffle aggregate and a collect, so codegen, the shuffle and
        the write path are loaded."""
        from builder_spark.sources.io import write_parquet

        t0 = time.perf_counter()
        df = self.spark.range(20_000).selectExpr("id % 13 AS k")
        write_parquet(df, scratch)
        self.spark.read.parquet(scratch).groupBy("k").count().collect()
        return time.perf_counter() - t0

    def noop_s(self) -> float:
        t0 = time.perf_counter()
        self.spark.range(1).count()
        return time.perf_counter() - t0

    def close(self) -> float:
        """Stop Spark and its JVM; returns the JVM's peak RSS in MB."""
        return _stop_jvm()


def _stop_jvm() -> float:
    """Stop the active SparkContext and the JVM behind it, waiting for
    the JVM to exit; returns its peak RSS in MB (0 if none is running)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return 0.0
    hwm = _hwm_mb(gw.proc.pid)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw.shutdown()
    try:
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - make sure the JVM is gone
        gw.proc.kill()
        gw.proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    return hwm


def _tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples above it, once that is p90 or higher (101+ samples); with
    fewer samples, p90 by linear interpolation, which a single slow op
    moves less than the maximum."""
    s = sorted(samples)
    n = len(s)
    if n < 2:
        return s[0], 100.0
    if n < 101:
        return statistics.quantiles(s, n=10, method="inclusive")[-1], 90.0
    i = n - 11
    return s[i], 100.0 * i / (n - 1)


def _make(name: str, run_dir: str, seed: int):
    if name == "curation":
        from curation import Curation

        return Curation(run_dir, seed)
    if name == "analytics":
        from analytics import Analytics

        return Analytics(run_dir, seed)
    from pipeline import Pipeline

    return Pipeline(run_dir, seed)


def run(args, run_id: str, run_dir: str) -> dict:
    from spans import NullTracer, Tracer, layer_metrics

    _isolate(run_dir)
    steal0, total0 = _cpu_ticks()
    null = NullTracer()
    w = _make(args.workload, run_dir, args.seed)
    t0 = time.perf_counter()
    w.generate()
    gen_s = time.perf_counter() - t0

    phases = {"gen_s": gen_s}
    t_setup = time.perf_counter()
    sess = Session()
    starts, warms = [], []
    for k in range(N_SETUPS):
        starts.append(sess.start())
        warms.append(sess.warmup(os.path.join(run_dir, "warmup")))
    spark = sess.spark
    phases["setup_total_s"] = time.perf_counter() - t_setup
    phases["starts"], phases["warms"] = starts, warms
    setups = [a + b for a, b in zip(starts, warms)]
    noop = statistics.median(sess.noop_s() for _ in range(N_NOOP))
    tracer = Tracer(spark, run_id) if args.trace else null
    attempted = failed = 0

    def attempt(fn, tr):
        nonlocal attempted, failed
        attempted += 1
        t0 = time.perf_counter()
        try:
            res = fn(tr)
        except Exception:  # noqa: BLE001 - a failed op counts, the run goes on
            traceback.print_exc()
            failed += 1
            return None, time.perf_counter() - t0
        dt = time.perf_counter() - t0
        try:
            ok = w.check(res)
        except Exception:  # noqa: BLE001
            traceback.print_exc()
            ok = False
        if not ok:
            failed += 1
        return res, dt

    _, backfill_s = attempt(lambda tr: w.backfill(spark, tr), null)
    # one untimed cycle: the JIT and the Python workers are still warming
    # up during the first ops after the backfill
    for i in range(w.cycle):
        w.prepare(i)
        attempt(lambda tr, i=i: w.op(spark, tr, i), null)
    lat: list[float] = []
    rows = 0
    # whole cycles of the workload's op mix, so every run has the same mix
    while sum(lat) < args.seconds or len(lat) % w.cycle:
        i = len(lat)
        w.prepare(i)
        res, dt = attempt(lambda tr, i=i: w.op(spark, tr, i), null)
        lat.append(dt)
        rows += w.rows(res) if res is not None else 0
    # the traced run then replays the same op indices with tracing on:
    # same session, same mix, so the difference is the tracing overhead
    lat_traced: list[float] = []
    for i in range(len(lat) if args.trace else 0):
        w.prepare(i)

        def traced(tr, i=i):
            with tr.span("op"):
                return w.op(spark, tr, i)

        lat_traced.append(attempt(traced, tracer)[1])
    phases["loop_s"] = time.perf_counter() - t_setup - phases["setup_total_s"]
    t_end = time.perf_counter()
    try:
        final_ok = w.final_check(spark)
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        final_ok = False
    if final_ok is not None:
        attempted += 1
        failed += 0 if final_ok else 1
    recall = w.recall()
    jvm_hwm = sess.close()
    phases["end_s"] = time.perf_counter() - t_end
    py_hwm = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    steal1, total1 = _cpu_ticks()
    steal = (steal1 - steal0) / max(1, total1 - total0)

    p50 = statistics.median(lat)
    tail, tail_pct = _tail(lat)
    host = {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_1m": os.getloadavg()[0],
        "steal_ratio": steal,
        "session.noop_action_s": noop,
        "ops": len(lat),
        **phases,
    }
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "op_p50_s": (p50, "s"),
        "op_tail_s": (tail, "s"),
        "rows_per_s": (rows / sum(lat), "1/s"),
        "backfill_s": (backfill_s, "s"),
        "dedup_recall": (recall, "ratio"),
        "failed_ratio": (failed / attempted, "ratio"),
        "peak_rss_mb": (jvm_hwm + py_hwm, "MB"),
    }
    print(f"[{args.workload}] host: " + json.dumps(host))
    for k, (v, unit) in e2e.items():
        extra = f"  (p{tail_pct:.1f} of {len(lat)} ops)" if k == "op_tail_s" else ""
        print(f"[{args.workload}] {k:13s} {v:.6g} {unit}{extra}")
    if args.trace:
        metrics = {
            "session.cold_start_s": (starts[0], "s"),
            "session.start_s": (statistics.median(starts), "s"),
            "session.warmup_s": (statistics.median(warms), "s"),
            "session.noop_action_s": (noop, "s"),
            "host.nproc": (os.cpu_count(), "count"),
            "host.spark_graft_cpus": (int(os.environ["SPARK_GRAFT_CPUS"]), "count"),
            "host.loadavg_1m": (os.getloadavg()[0], "load"),
            "host.steal_ratio": (steal, "ratio"),
            "trace.overhead_s": (statistics.median(lat_traced) - p50, "s"),
        }
        metrics.update(layer_metrics(tracer))
        spans_dir = os.path.join(ROOT, ".perfbench_runs", "spans")
        os.makedirs(spans_dir, exist_ok=True)
        tracer.write(os.path.join(spans_dir, f"{run_id}.jsonl"))
    else:
        metrics = {k: v for k, v in e2e.items() if k != "failed_ratio"}
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "builder_spark")):
        print(f"no builder_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, BENCH_DIR)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    run_dir = os.path.join(ROOT, ".perfbench_runs", run_id)
    try:
        result = run(args, run_id, run_dir)
    finally:
        _stop_jvm()  # after an error, the JVM must not outlive the run
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
