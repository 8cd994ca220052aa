"""In-memory spans around the benchmark's calls into each layer.

A span records name, start, end, parent span and run id; counts ride on
the span that did the work. While a span is open, the Spark job group
of the calling thread is ``<name>#<span id>``, so the jobs it started
can be read back from Spark's status tracker when it closes: tasks
run, tasks failed and shuffle bytes written. Spans are kept in memory
and written out once, at the end of the run.

``NullTracer`` has the same interface and records nothing; the
untraced run uses it, so both runs execute the same benchmark code.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    def count(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + value


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, parent: Span | None = None):
        yield Span(0, name, None, "", 0.0)

    def current(self) -> Span | None:
        return None


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    enabled = True

    def __init__(self, spark, run_id: str) -> None:
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, parent: Span | None = None):
        """Open a span; ``parent`` defaults to the thread's innermost
        open span (pass it explicitly from worker threads)."""
        parent = parent if parent is not None else self.current()
        with self._lock:
            sp = Span(next(self._ids), name, parent.id if parent else None, self.run_id, 0.0)
            self.spans.append(sp)
        sc = self.spark.sparkContext
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = sc.getLocalProperty("spark.job.description")
        group = f"{name}#{sp.id}"
        sc.setJobGroup(group, name)
        self._stack().append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack().pop()
            sc.setLocalProperty("spark.jobGroup.id", prev_group)
            sc.setLocalProperty("spark.job.description", prev_desc)
            self._read_tasks(sp, group)

    def _read_tasks(self, sp: Span, group: str) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        try:  # let the listener bus deliver the final task-end events
            jsc.listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 - best effort; counts may lag
            pass
        st = sc.statusTracker()
        store = jsc.statusStore()
        tasks = failed = shuffle = 0
        for job_id in st.getJobIdsForGroup(group):
            info = st.getJobInfo(job_id)
            if info is None:
                continue
            for stage_id in info.stageIds:
                si = st.getStageInfo(stage_id)
                if si is None:
                    continue
                tasks += si.numCompletedTasks
                failed += si.numFailedTasks
                try:
                    shuffle += store.lastStageAttempt(stage_id).shuffleWriteBytes()
                except Exception:  # noqa: BLE001 - stage evicted from the store
                    pass
        sp.count("tasks", tasks)
        sp.count("failed_tasks", failed)
        sp.count("shuffle_bytes", shuffle)

    # --- reductions -------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the part of it its children cover."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                children[sp.parent].append((sp.start, sp.end))
        return {
            sp.id: sp.duration - _union_length(children.get(sp.id, [])) for sp in self.spans
        }

    def by_name(self, name: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name == name]

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(
                    json.dumps(
                        {
                            "run_id": sp.run_id,
                            "id": sp.id,
                            "parent": sp.parent,
                            "name": sp.name,
                            "start": sp.start,
                            "end": sp.end,
                            "self_s": selfs[sp.id],
                            "counts": sp.counts,
                        }
                    )
                    + "\n"
                )


def count_written(sp: Span, path: str) -> None:
    """Attach the data files and bytes under ``path`` to ``sp``."""
    import os

    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                sp.count("files_written", 1)
                sp.count("bytes_written", os.path.getsize(os.path.join(dirpath, f)))


# ---------------------------------------------------------------------------
# per-layer metrics: the same names on every workload; a layer the
# workload never calls reports 0

#: registry queries of the analytics mix, in registry order
QUERY_MIX = [
    "q_agg_group",
    "q_join_multi",
    "q_join_asof",
    "q_window_topk_group",
    "q_win_session",
    "q_union_distinct",
    "q_dedup_exact",
    "q_decile_stats",
    "q_group_decile_bands",
]

#: spans that start Spark jobs: each gets ``<span>.tasks`` (median per
#: call) and ``<span>.failed_tasks`` (total)
JOB_SPANS = [
    "catalog.scan",
    "sources.write",
    "dedup.exact",
    "dedup.signatures",
    "dedup.candidates",
    "dedup.verify",
    "dedup.clusters",
    "similarity.near_dupes",
    "functions.text.quality",
    *[f"queries.{q}" for q in QUERY_MIX],
    "pipeline.execute",
]

#: metric -> (span, what, unit): what is "s" (median duration per
#: call), "self" (median self time per call) or a count key (median
#: per call)
SPAN_METRICS: dict[str, tuple[str, str, str]] = {
    "op.self_s": ("op", "self", "s"),
    "catalog.scan_s": ("catalog.scan", "s", "s"),
    "catalog.scan_rows": ("catalog.scan", "rows", "count"),
    "sources.write_s": ("sources.write", "s", "s"),
    "sources.bytes_written": ("sources.write", "bytes_written", "bytes"),
    "sources.files_written": ("sources.write", "files_written", "count"),
    "dedup.exact_s": ("dedup.exact", "s", "s"),
    "dedup.exact_rows_out": ("dedup.exact", "rows_out", "count"),
    "dedup.signatures_s": ("dedup.signatures", "s", "s"),
    "dedup.signature_rows": ("dedup.signatures", "rows", "count"),
    "dedup.candidates_s": ("dedup.candidates", "s", "s"),
    "dedup.candidates": ("dedup.candidates", "candidates", "count"),
    "dedup.candidates_shuffle_bytes": ("dedup.candidates", "shuffle_bytes", "bytes"),
    "dedup.verify_s": ("dedup.verify", "s", "s"),
    "dedup.verified_pairs": ("dedup.verify", "pairs", "count"),
    "dedup.clusters_s": ("dedup.clusters", "s", "s"),
    "dedup.clustered_docs": ("dedup.clusters", "docs", "count"),
    "similarity.near_dupes_s": ("similarity.near_dupes", "s", "s"),
    "similarity.pairs": ("similarity.near_dupes", "pairs", "count"),
    "functions.text.quality_s": ("functions.text.quality", "s", "s"),
    "functions.text.kept_rows": ("functions.text.quality", "kept_rows", "count"),
    **{
        m: spec
        for q in QUERY_MIX
        for m, spec in (
            (f"queries.{q}_s", (f"queries.{q}", "s", "s")),
            (f"queries.{q}_shuffle_bytes", (f"queries.{q}", "shuffle_bytes", "bytes")),
        )
    },
    "pipeline.expand_s": ("pipeline.expand", "s", "s"),
    "pipeline.concrete_jobs": ("pipeline.expand", "concrete_jobs", "count"),
    "pipeline.edges": ("pipeline.expand", "edges", "count"),
    "pipeline.should_run_s": ("pipeline.should_run", "s", "s"),
    "pipeline.stale_jobs": ("pipeline.should_run", "stale_jobs", "count"),
    "pipeline.execute_s": ("pipeline.execute", "s", "s"),
    "pipeline.jobs_ran": ("pipeline.schedule", "ran", "count"),
    "pipeline.jobs_skipped": ("pipeline.schedule", "skipped", "count"),
    "pipeline.jobs_failed": ("pipeline.schedule", "failed", "count"),
    "pipeline.schedule_self_s": ("pipeline.schedule", "self", "s"),
}

#: ratios of two span counts: metric -> (span, numerator, span, denominator)
RATIO_METRICS: dict[str, tuple[str, str, str, str]] = {
    "dedup.candidate_precision": ("dedup.verify", "pairs", "dedup.candidates", "candidates"),
    "similarity.recall": (
        "similarity.near_dupes", "planted_found", "similarity.near_dupes", "planted",
    ),
}


def _median(values: list[float]) -> float:
    import statistics

    return statistics.median(values) if values else 0


def layer_metrics(tracer: Tracer) -> dict[str, tuple[float, str]]:
    """Every per-layer metric, reduced from the spans of the traced ops."""
    selfs = tracer.self_times()
    out: dict[str, tuple[float, str]] = {}
    for metric, (name, what, unit) in SPAN_METRICS.items():
        spans = tracer.by_name(name)
        if what == "s":
            vals = [sp.duration for sp in spans]
        elif what == "self":
            vals = [selfs[sp.id] for sp in spans]
        else:
            vals = [sp.counts.get(what, 0) for sp in spans]
        out[metric] = (_median(vals), unit)
    for metric, (sn, num, sd, den) in RATIO_METRICS.items():
        n = sum(sp.counts.get(num, 0) for sp in tracer.by_name(sn))
        d = sum(sp.counts.get(den, 0) for sp in tracer.by_name(sd))
        out[metric] = (n / d if d else 0, "ratio")
    for name in JOB_SPANS:
        spans = tracer.by_name(name)
        out[f"{name}.tasks"] = (_median([sp.counts.get("tasks", 0) for sp in spans]), "count")
        out[f"{name}.failed_tasks"] = (
            sum(sp.counts.get("failed_tasks", 0) for sp in spans),
            "count",
        )
    return out
