"""Pipeline framework core: targets, expanders, jobs, build graph,
executors.

Semantics mirrored from the reference (all citations public-repo
symbols, SURVEY.md §0/§2.A):
- staleness  (pub:builder/jobs.py::JobState.get_stale): a job is stale
  if any declared target is missing, or any existing target is older
  than the newest existing dependency.
- buildability (pub:builder/deps.py): ``depends`` requires ALL inputs
  to exist; ``depends_one_or_more`` requires ≥1.
- should-run (pub:builder/jobs.py::JobState.get_should_run):
  stale ∧ buildable ∧ ¬within-cache_time ∧ curfew-allows.
- execution (pub:builder/execution.py::ExecutionManager): pop runnable
  jobs in topological order, dispatch to an executor, retry failures
  up to ``retries``, re-evaluate downstream state after completion.

Scale notes: freshness checks are driver-side metadata ops (mtime /
_SUCCESS markers) — no data reads. Targets are directories, so a
"partition" can be any size; jobs write with dynamic partition
overwrite so a re-run replaces exactly its own time slice.
"""

from __future__ import annotations

import fnmatch
import glob as globlib
import os
import re
import time
from collections.abc import Callable, Iterable
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import networkx as nx

# ---------------------------------------------------------------------------
# time utilities (pub:builder/util.py::convert_to_timedelta)

_UNITS = {
    "s": 1, "sec": 1, "second": 1, "seconds": 1,
    "m": 60, "min": 60, "minute": 60, "minutes": 60,
    "h": 3600, "hour": 3600, "hours": 3600,
    "d": 86400, "day": 86400, "days": 86400,
    "w": 604800, "week": 604800, "weeks": 604800,
}


def convert_to_timedelta(spec: str | timedelta) -> timedelta:
    """'5min' / '1 day' / '2h' → timedelta."""
    if isinstance(spec, timedelta):
        return spec
    s = spec.strip().lower().replace(" ", "")
    i = 0
    while i < len(s) and (s[i].isdigit() or s[i] == "."):
        i += 1
    num, unit = s[:i] or "1", s[i:]
    if unit not in _UNITS:
        raise ValueError(f"unknown time unit in {spec!r}")
    return timedelta(seconds=float(num) * _UNITS[unit])


class ConcurrentWriteError(RuntimeError):
    """A lost commit race whose retry would publish a snapshot built
    from OLDER input versions than the winner's — retrying at the next
    version slot would supersede the winner with stale data, so the
    loser must rebuild from current inputs instead (Delta-style
    optimistic-concurrency conflict)."""


# ---------------------------------------------------------------------------
# targets (pub:builder/targets.py::Target, LocalFileSystemTarget,
# GlobLocalFileSystemTarget)


def _has_output(entries) -> bool:
    """A directory listing holds a finished output: a ``_SUCCESS``
    marker or any parquet/csv/json data file."""
    return any(e == "_SUCCESS" or e.endswith((".parquet", ".csv", ".json")) for e in entries)


@dataclass(frozen=True)
class Target:
    """An artifact with identity and freshness.

    ``unexpanded_id`` is the pattern it came from; ``unique_id`` the
    concrete path (possibly a glob). A Spark parquet directory counts
    as existing when it has a _SUCCESS marker or any data file.
    """

    unique_id: str
    unexpanded_id: str = ""
    start: datetime | None = None

    def _paths(self) -> list[str]:
        if any(ch in self.unique_id for ch in "*?["):
            return globlib.glob(self.unique_id)
        return [self.unique_id] if os.path.exists(self.unique_id) else []

    @property
    def exists(self) -> bool:
        for p in self._paths():
            if not os.path.isdir(p) or _has_output(os.listdir(p)):
                return True
        return False

    def get_mtime(self) -> float | None:
        """Newest mtime across matched files (None if nothing exists)."""
        best: float | None = None
        for p in self._paths():
            if os.path.isdir(p):
                for root, _dirs, files in os.walk(p):
                    for f in files:
                        m = os.path.getmtime(os.path.join(root, f))
                        best = m if best is None else max(best, m)
            else:
                m = os.path.getmtime(p)
                best = m if best is None else max(best, m)
        return best


_URI_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


@dataclass(frozen=True)
class ObjectStoreTarget(Target):
    """Path-scheme-aware Target: any Hadoop-supported filesystem URI
    (``s3a://``, ``gs://``, ``abfs://``, ``hdfs://``, ``file://``).
    Spark-first equivalent of the reference's S3-backed target flavor
    (pub:builder/targets.py::S3BackedLocalFileSystemTarget): existence
    and freshness come from the OBJECT STORE's listing via the active
    SparkSession's Hadoop configuration (credentials, endpoints), not
    the local disk — so the scheduler and a 1000-executor cluster
    agree on artifact state, with no staging copies.

    Freshness = newest object modification time (recursive listing).
    Listing is a driver-side metadata call: one `globStatus`/
    `listFiles` round-trip per check, no data reads — at 100 TB the
    scheduler still does O(files) metadata work, never O(bytes).
    Globs go through ``FileSystem.globStatus`` (same metacharacters as
    the local path flavor).
    """

    def _hadoop(self):
        from pyspark.sql import SparkSession

        # the thread's active session, else the process default: jobs
        # run on the scheduler's pool threads, which have no active
        # session of their own (raises when there is no session at all)
        spark = SparkSession.active()
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        uri = jvm.java.net.URI.create(self.unique_id)
        return jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf), jvm

    def _statuses(self):
        fs, jvm = self._hadoop()
        path = jvm.org.apache.hadoop.fs.Path(self.unique_id)
        if any(ch in self.unique_id for ch in "*?["):
            sts = fs.globStatus(path)
            return (list(sts) if sts is not None else []), fs
        return ([fs.getFileStatus(path)] if fs.exists(path) else []), fs

    @property
    def exists(self) -> bool:
        sts, fs = self._statuses()
        for st in sts:
            if not st.isDirectory() or _has_output(
                f.getPath().getName() for f in fs.listStatus(st.getPath())
            ):
                return True
        return False

    def get_mtime(self) -> float | None:
        best: float | None = None
        sts, fs = self._statuses()
        for st in sts:
            if st.isDirectory():
                it = fs.listFiles(st.getPath(), True)
                while it.hasNext():
                    m = it.next().getModificationTime() / 1000.0
                    best = m if best is None else max(best, m)
            else:
                m = st.getModificationTime() / 1000.0
                best = m if best is None else max(best, m)
        return best


@dataclass(frozen=True)
class VersionedTableTarget(Target):
    """Snapshot-manifest target: freshness by COMMITTED VERSION, not
    file mtimes (the r6 design note, now implemented — the Delta/
    Iceberg-shaped staleness contract without their jars, which this
    sandbox cannot install).

    Layout: ``<table>/_versions/v%08d.json`` manifests; the highest
    version is the current snapshot. Each manifest records::

        {"version": n, "committed_at": unix_sec,
         "data_path": "<table>/data-v%08d-<nonce>",
         "inputs": {"<dep unique_id>": dep_version_at_build_time}}

    - ``exists`` → ≥1 committed manifest (a crashed writer leaves data
      files but NO manifest, so half-written output is invisible — the
      ``_SUCCESS`` hazard disappears).
    - ``get_mtime()`` → latest manifest's commit timestamp. Immune to
      compaction/rewrites (rewritten data files don't look fresh) and
      to eventually-consistent object-store listings (one manifest
      read, not an O(files) recursive walk).
    - ``get_stale`` (see :meth:`ConcreteJob.get_stale`) compares the
      recorded input VERSIONS against each versioned dep's current
      version — a dep data rewrite at the same version never triggers
      a rebuild; a version bump always does.

    Addressed as ``vt:///abs/path`` via :func:`make_target`. Manifests
    here use local-filesystem ops (the sandbox has no object store);
    on a real lake the same one-manifest-per-commit protocol runs over
    any Hadoop FS exactly as ObjectStoreTarget does for listings, or
    maps directly onto Delta/Iceberg snapshot metadata.
    """

    @property
    def table_path(self) -> str:
        p = self.unique_id
        return p[len("vt://"):] if p.startswith("vt://") else p

    def _log_dir(self) -> str:
        return os.path.join(self.table_path, "_versions")

    def _manifests(self) -> list[str]:
        d = self._log_dir()
        if not os.path.isdir(d):
            return []
        return sorted(
            f for f in os.listdir(d) if re.fullmatch(r"v\d{8}\.json", f)
        )

    def _latest(self) -> dict | None:
        import json

        ms = self._manifests()
        if not ms:
            return None
        with open(os.path.join(self._log_dir(), ms[-1])) as f:
            return json.load(f)

    @property
    def exists(self) -> bool:
        return bool(self._manifests())

    def get_version(self) -> int | None:
        m = self._latest()
        return None if m is None else int(m["version"])

    def get_mtime(self) -> float | None:
        m = self._latest()
        return None if m is None else float(m["committed_at"])

    def recorded_inputs(self) -> dict[str, int] | None:
        """Input versions the current snapshot was built from (None for
        pre-versioned or externally-committed snapshots)."""
        m = self._latest()
        return None if m is None else m.get("inputs")

    def read_path(self, version: int | None = None) -> str | None:
        """Data path of the current snapshot (what a consumer reads),
        or of an explicit ``version`` — TIME TRAVEL: any committed
        snapshot stays readable by number until its manifest is
        removed, exactly the Delta/Iceberg `VERSION AS OF` contract."""
        import json

        if version is None:
            m = self._latest()
            return None if m is None else m.get("data_path")
        path = os.path.join(self._log_dir(), f"v{version:08d}.json")
        try:
            with open(path) as f:
                return json.load(f).get("data_path")
        except OSError:
            return None

    def stage_data_path(self) -> str:
        """Unique staging directory for ONE writer's data files.

        Every call returns a fresh path (version hint + random nonce):
        two writers racing on the same table stage into DIFFERENT
        directories, so only the manifest slot is contended — and
        :meth:`commit`'s put-if-absent plus its OCC input-version
        re-check arbitrate that (a loser with stale inputs raises
        :class:`ConcurrentWriteError` instead of superseding the
        winner). A deterministic
        ``data-v{n+1}`` path would make both racers write (and
        ``mode('overwrite')`` each other) in the SAME directory, and
        the race loser's retried manifest would publish a directory
        holding the winner's rows or an interleaved mix — a silently
        corrupt snapshot. Delta stages uniquely-named data files for
        exactly this reason. Nothing reads ``data-*`` directories
        directly; consumers follow the committed manifest's
        ``data_path``.
        """
        import uuid

        return os.path.join(
            self.table_path,
            f"data-v{(self.get_version() or 0) + 1:08d}-{uuid.uuid4().hex[:8]}",
        )

    def commit(
        self,
        data_path: str | None = None,
        inputs: dict[str, int] | None = None,
        committed_at: float | None = None,
    ) -> int:
        """Atomically publish the next snapshot. Returns the committed
        version number.

        Concurrency-safe by PUT-IF-ABSENT: the manifest lands via
        ``os.link`` (fails with EEXIST if the version file already
        exists) — two writers racing on the same next version can
        never silently clobber each other (the os.replace a naive
        implementation uses would lose one commit without a trace).
        On a lost race the loser re-reads the winner's manifest and
        OCC-validates before retrying at the next slot: if any input
        version it built from is OLDER than what the winner recorded,
        retrying would supersede the winner's snapshot with stale data
        — it raises :class:`ConcurrentWriteError` instead (the caller
        rebuilds from current inputs), exactly Delta's conflicting-
        transaction check. Commits with unknown inputs (``None`` —
        external appends, not dep rebuilds) retry unconditionally."""
        import json
        import tempfile

        d = self._log_dir()
        os.makedirs(d, exist_ok=True)
        version = (self.get_version() or 0) + 1
        while True:
            manifest = {
                "version": version,
                "committed_at": time.time() if committed_at is None else committed_at,
                "data_path": data_path,
                # None (not {}) when the committer didn't record inputs:
                # recorded_inputs() must distinguish "externally
                # committed, versions unknown -> fall back to mtime
                # staleness" from "built from zero versioned deps".
                # Coercing to {} here made get_stale() treat every
                # versioned dep of an externally-committed snapshot as
                # unknown-version -> always stale -> spurious rebuild.
                "inputs": inputs,
            }
            fd, tmp = tempfile.mkstemp(dir=d, prefix=".commit.")
            try:
                with os.fdopen(fd, "w") as f:
                    json.dump(manifest, f)
                target = os.path.join(d, f"v{version:08d}.json")
                try:
                    os.link(tmp, target)  # atomic put-if-absent
                    return version
                except FileExistsError:
                    # lost the race — OCC re-check against the winner
                    # before retrying on the next slot
                    if inputs is not None:
                        try:
                            with open(target) as f:
                                winner = json.load(f)
                        except (OSError, ValueError):
                            winner = {}
                        w_inputs = winner.get("inputs") or {}
                        stale = {
                            dep: (inputs[dep], wv)
                            for dep, wv in w_inputs.items()
                            if dep in inputs and inputs[dep] < wv
                        }
                        if stale:
                            raise ConcurrentWriteError(
                                f"{self.unique_id}: lost commit race at v{version} "
                                f"and local input versions are older than the "
                                f"winner's (dep: (ours, winner's)) {stale} — "
                                "rebuild from current inputs instead of retrying"
                            ) from None
                    version += 1
            finally:
                with __import__("contextlib").suppress(OSError):
                    os.remove(tmp)

    def vacuum(
        self,
        keep_last: int = 1,
        min_age_sec: float = 7 * 86400.0,
        clock: Callable[[], float] = time.time,
    ) -> dict[str, list[str]]:
        """Retention GC — the Delta ``VACUUM`` of this log format.

        Removes (a) all but the newest ``keep_last`` manifests (the
        current snapshot is ALWAYS kept; older versions stop being
        time-travelable) and (b) every ``data-*`` directory under the
        table root not referenced by a surviving manifest — which
        sweeps both expired snapshots' data and the orphaned staging
        dirs left by crashed or race-losing writers, the unbounded
        disk growth :meth:`stage_data_path` otherwise accumulates.

        ``min_age_sec`` protects in-flight work: an unreferenced
        directory younger than the window may belong to a live writer
        that staged but has not committed yet, so it is skipped
        (Delta's retention-hours check; default 7 days, like Delta).
        Manifest removal ignores the window — a committed version is
        superseded by definition, never in-flight. In-use ``VERSION AS
        OF`` readers of an expired version cannot be detected on a
        plain filesystem (no lock service); as with Delta, vacuuming
        under a time-travel reader makes THAT read fail loudly on its
        next file open, never silently wrong.

        Returns ``{"removed_manifests": [...], "removed_data": [...]}``.
        """
        import shutil

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1 (the current snapshot stays)")
        ms = self._manifests()
        keep_ms = set(ms[-keep_last:])
        removed_manifests: list[str] = []
        for name in ms:
            if name in keep_ms:
                continue
            with __import__("contextlib").suppress(OSError):
                os.remove(os.path.join(self._log_dir(), name))
                removed_manifests.append(name)
        # data dirs referenced by any SURVIVING manifest stay
        referenced = set()
        for name in self._manifests():
            try:
                import json

                with open(os.path.join(self._log_dir(), name)) as f:
                    dp = json.load(f).get("data_path")
            except (OSError, ValueError):
                continue
            if dp:
                referenced.add(os.path.realpath(dp))
        removed_data: list[str] = []
        now = clock()
        root = self.table_path
        if os.path.isdir(root):
            for entry in sorted(os.listdir(root)):
                if not re.fullmatch(r"data-v\d{8}(-[0-9a-f]+)?", entry):
                    continue
                path = os.path.join(root, entry)
                if os.path.realpath(path) in referenced:
                    continue
                try:
                    age = now - os.path.getmtime(path)
                except OSError:
                    continue
                if age < min_age_sec:
                    continue  # possibly a live writer's staged dir
                shutil.rmtree(path, ignore_errors=True)
                removed_data.append(entry)
        # hard-crashed commits can leak .commit.* mkstemp files in the
        # log dir (the normal path removes them in a finally) — same
        # age-gated sweep
        log_dir = self._log_dir()
        if os.path.isdir(log_dir):
            for entry in os.listdir(log_dir):
                if not entry.startswith(".commit."):
                    continue
                path = os.path.join(log_dir, entry)
                with __import__("contextlib").suppress(OSError):
                    if now - os.path.getmtime(path) >= min_age_sec:
                        os.remove(path)
        return {"removed_manifests": removed_manifests, "removed_data": removed_data}


def make_target(
    unique_id: str, unexpanded_id: str = "", start: datetime | None = None
) -> Target:
    """Scheme-dispatching Target factory: ``vt://`` paths get the
    snapshot-versioned :class:`VersionedTableTarget`, other URIs with
    a filesystem scheme :class:`ObjectStoreTarget`, bare paths the
    local flavor — so a job can point its targets/depends at
    ``s3a://bucket/...`` or ``vt:///lake/...`` patterns and the whole
    pipeline (staleness, buildability, cache_time) works unchanged."""
    if unique_id.startswith("vt://"):
        cls: type[Target] = VersionedTableTarget
    elif _URI_SCHEME.match(unique_id):
        cls = ObjectStoreTarget
    else:
        cls = Target
    return cls(unique_id=unique_id, unexpanded_id=unexpanded_id, start=start)


# ---------------------------------------------------------------------------
# expanders (pub:builder/expanders.py::Expander, TimestampExpander)


class TimestampExpander:
    """Expand a strftime-formatted path pattern over a time range.

    expand('/data/events/%Y-%m-%d', start, end, '1 day') → one Target
    per day bucket in [start, end). Buckets are aligned by stepping
    from ``start`` — matching partitionBy layout keeps Catalyst's
    partition pruning exact.
    """

    @staticmethod
    def expand_range(start: datetime, end: datetime, step: str | timedelta) -> list[datetime]:
        dt = convert_to_timedelta(step)
        out, cur = [], start
        while cur < end:
            out.append(cur)
            cur = cur + dt
        return out

    @classmethod
    def expand(
        cls, pattern: str, start: datetime, end: datetime, step: str | timedelta
    ) -> list[Target]:
        return [
            make_target(unique_id=t.strftime(pattern), unexpanded_id=pattern, start=t)
            for t in cls.expand_range(start, end, step)
        ]

    @staticmethod
    def infer_step(pattern: str, default: timedelta) -> timedelta:
        """Finest strftime directive in the pattern → natural bucket size.

        A daily job depending on hourly files must expand the dep pattern
        at hourly steps to see all 24 inputs (pub:builder/expanders.py —
        each dependency expands at its own file_step granularity).
        """
        if "%S" in pattern:
            return timedelta(seconds=1)
        if "%M" in pattern:
            return timedelta(minutes=1)
        if "%H" in pattern:
            return timedelta(hours=1)
        if "%d" in pattern or "%j" in pattern:
            return min(default, timedelta(days=1))
        return default


# ---------------------------------------------------------------------------
# jobs (pub:builder/jobs.py::Job, JobState)


@dataclass
class BuildContext:
    """Everything a job run needs (the reference's build_context dict +
    command templating inputs, minus the shell)."""

    spark: object
    start: datetime
    end: datetime
    dep_paths: dict[str, list[str]]  # dep pattern → existing concrete paths
    target_path: str


@dataclass
class Job:
    """A unit of work producing time-partitioned targets.

    ``run(ctx)`` returns a DataFrame (written by the executor to
    ctx.target_path) or None if it wrote its own outputs. This replaces
    the reference's get_command() shell rendering — the "command" is a
    parameterized Spark plan.
    """

    name: str
    run: Callable[[BuildContext], object]
    targets: str = ""  # strftime pattern
    depends: list[str] = field(default_factory=list)  # ALL must exist
    depends_one_or_more: list[str] = field(default_factory=list)  # ≥1 must exist
    file_step: str = "1 day"
    cache_time: str | None = None  # don't re-run within this window
    curfew: tuple[int, int] | None = None  # allowed wall-clock hour range [lo, hi)
    retries: int = 0


@dataclass
class ConcreteJob:
    """A job expanded for one time bucket."""

    job: Job
    start: datetime
    end: datetime
    target: Target
    dep_targets: dict[str, list[Target]]
    dep_mode: dict[str, str]  # pattern → 'all' | 'any'

    @property
    def unique_id(self) -> str:
        return f"{self.job.name}@{self.start.isoformat()}"

    # --- state predicates (pub:builder/jobs.py::JobState) ---

    def get_buildable(self) -> bool:
        for pat, tgts in self.dep_targets.items():
            existing = [t for t in tgts if t.exists]
            if self.dep_mode[pat] == "all" and len(existing) != len(tgts):
                return False
            if self.dep_mode[pat] == "any" and not existing:
                return False
        return True

    def get_stale(self) -> bool:
        if not self.target.exists:
            return True
        # Version-based staleness (VersionedTableTarget pairs): when
        # the target snapshot RECORDS the dep version it was built
        # from, compare versions — a dep rewritten at the same version
        # (compaction, object-store mtime churn) is NOT fresh data,
        # and a version bump always is, regardless of clock skew.
        # Deps without versions fall back to the mtime comparison.
        recorded = (
            self.target.recorded_inputs()
            if isinstance(self.target, VersionedTableTarget)
            else None
        )
        t_mtime = self.target.get_mtime() or 0.0
        for tgts in self.dep_targets.values():
            for d in tgts:
                if not d.exists:
                    continue
                if recorded is not None and isinstance(d, VersionedTableTarget):
                    dv = d.get_version() or 0
                    rv = recorded.get(d.unique_id)
                    if rv is None or int(rv) < dv:
                        return True
                    continue
                if (d.get_mtime() or 0.0) > t_mtime:
                    return True
        return False

    def get_should_run(self, now: float | None = None, force: bool = False) -> bool:
        now = time.time() if now is None else now
        if self.job.curfew is not None:
            lo, hi = self.job.curfew
            hour = datetime.fromtimestamp(now).hour
            if not (lo <= hour < hi):
                return False
        if force:
            return self.get_buildable()
        if not (self.get_stale() and self.get_buildable()):
            return False
        if self.job.cache_time is not None and self.target.exists:
            age = now - (self.target.get_mtime() or 0.0)
            if age < convert_to_timedelta(self.job.cache_time).total_seconds():
                return False
        return True


# ---------------------------------------------------------------------------
# build graph (pub:builder/build.py::BuildManager, RuleDependencyGraph,
# BuildGraph)


class BuildManager:
    """Holds the rule graph; expands it into a concrete BuildGraph."""

    def __init__(self) -> None:
        self.jobs: dict[str, Job] = {}

    def add(self, job: Job) -> Job:
        if job.name in self.jobs:
            raise ValueError(f"duplicate job: {job.name}")
        self.jobs[job.name] = job
        return job

    def job(self, **kwargs) -> Callable[[Callable], Callable]:
        """Decorator sugar: @manager.job(targets=..., depends=[...])."""

        def deco(fn: Callable) -> Callable:
            self.add(Job(name=fn.__name__, run=fn, **kwargs))
            return fn

        return deco

    def _producers(self, pattern: str) -> list[Job]:
        """Jobs whose targets pattern equals ``pattern`` or globs it. No
        substring match: ``/x/b/%Y%m%d`` is a prefix of
        ``/x/b/%Y%m%d_raw`` yet does not produce it."""
        return [
            j
            for j in self.jobs.values()
            if j.targets
            and (j.targets == pattern or fnmatch.fnmatch(pattern, j.targets))
        ]

    def expand(self, start: datetime, end: datetime) -> "BuildGraph":
        """Rule graph × time range → concrete DAG of ConcreteJobs.

        Each job gets one ConcreteJob per file_step bucket; edges
        connect a bucket to the producer buckets of every dependency
        target that overlaps it (pub:builder/build.py expansion).
        """
        g = nx.DiGraph()
        concrete: dict[str, ConcreteJob] = {}
        for job in self.jobs.values():
            step = convert_to_timedelta(job.file_step)
            for t0 in TimestampExpander.expand_range(start, end, step):
                t1 = t0 + step
                dep_targets: dict[str, list[Target]] = {}
                dep_mode: dict[str, str] = {}
                for pat, mode in [(p, "all") for p in job.depends] + [
                    (p, "any") for p in job.depends_one_or_more
                ]:
                    dep_step = TimestampExpander.infer_step(pat, step)
                    dep_targets[pat] = TimestampExpander.expand(pat, t0, t1, dep_step)
                    dep_mode[pat] = mode
                cj = ConcreteJob(
                    job=job,
                    start=t0,
                    end=t1,
                    target=make_target(
                        unique_id=t0.strftime(job.targets) if job.targets else f"/dev/null/{job.name}",
                        unexpanded_id=job.targets,
                        start=t0,
                    ),
                    dep_targets=dep_targets,
                    dep_mode=dep_mode,
                )
                concrete[cj.unique_id] = cj
                g.add_node(cj.unique_id)
        # wire edges: dep pattern produced by another job's targets pattern
        for cj in concrete.values():
            for pat in list(cj.dep_targets):
                for producer in self._producers(pat):
                    for other in concrete.values():
                        if other.job is producer and not (
                            other.end <= cj.start or other.start >= cj.end
                        ):
                            g.add_edge(other.unique_id, cj.unique_id)
        return BuildGraph(graph=g, jobs=concrete)


@dataclass
class BuildGraph:
    graph: nx.DiGraph
    jobs: dict[str, ConcreteJob]

    def topological(self) -> list[ConcreteJob]:
        return [self.jobs[n] for n in nx.topological_sort(self.graph)]


# ---------------------------------------------------------------------------
# executors (pub:builder/execution.py::Executor, LocalExecutor,
# PrintExecutor, ExecutionManager)


def _build_context(spark, cj: ConcreteJob) -> BuildContext:
    """The job's :class:`BuildContext`, shared by every executor so a
    dry run reads exactly the paths a real run reads."""

    def dep_path(t: Target) -> str:
        if not isinstance(t, VersionedTableTarget):
            return t.unique_id
        # consumers of a versioned dep read its CURRENT snapshot's data
        # path, never the table root: the root accumulates
        # uniquely-named staging dirs (live writers, crashed writers),
        # so a root read would return duplicated rows
        p = t.read_path()
        if p is None:
            raise RuntimeError(
                f"versioned dep {t.unique_id} has a committed manifest "
                "with no data_path — nothing readable to build from"
            )
        return p

    return BuildContext(
        spark=spark,
        start=cj.start,
        end=cj.end,
        dep_paths={
            pat: [dep_path(t) for t in tgts if t.exists] for pat, tgts in cj.dep_targets.items()
        },
        target_path=(
            # unique per-writer staging dir: concurrent writers on the
            # same table never share a data directory; the manifest
            # (put-if-absent) is the only contended slot
            cj.target.stage_data_path()
            if isinstance(cj.target, VersionedTableTarget)
            else cj.target.unique_id
        ),
    )


class SparkExecutor:
    """Runs the job fn and writes its DataFrame to the target path."""

    def __init__(self, spark) -> None:
        self.spark = spark

    def execute(self, cj: ConcreteJob) -> None:
        ctx = _build_context(self.spark, cj)
        df = cj.job.run(ctx)
        if df is not None:
            df.write.mode("overwrite").parquet(ctx.target_path)
        if isinstance(cj.target, VersionedTableTarget):
            # data is on disk but INVISIBLE until this manifest lands —
            # a crash before commit leaves no snapshot (no _SUCCESS
            # half-written-directory hazard). The manifest records each
            # versioned dep's version for version-based staleness.
            inputs = {
                d.unique_id: d.get_version() or 0
                for tgts in cj.dep_targets.values()
                for d in tgts
                if isinstance(d, VersionedTableTarget) and d.exists
            }
            cj.target.commit(data_path=ctx.target_path, inputs=inputs)


class PrintExecutor:
    """Dry run: explain the plan (or describe the job), write nothing
    (pub:builder/execution.py::PrintExecutor)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.printed: list[str] = []

    def execute(self, cj: ConcreteJob) -> None:
        df = cj.job.run(_build_context(self.spark, cj))
        desc = f"DRY-RUN {cj.unique_id} -> {cj.target.unique_id}"
        if df is not None:
            try:
                desc += "\n" + df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            except Exception:
                desc += f"\nschema: {df.schema.simpleString()}"
        self.printed.append(desc)
        print(desc)


class ExecutionManager:
    """Walks the expanded graph, runs should-run jobs, retries failures,
    re-evaluates state after each completion.

    ``max_workers > 1`` dispatches every READY job (all graph
    predecessors finished) concurrently on a thread pool — wave
    scheduling. A SparkSession accepts job submissions from many
    threads (each thread's actions become independent Spark jobs, FIFO/
    FAIR-scheduled across the cluster), so independent pipeline
    branches overlap their stages instead of serializing on the driver:
    the difference between a 1000-executor cluster draining one branch
    at a time and all branches at once. should-run/staleness is always
    evaluated AFTER the job's predecessors finish (submission time),
    preserving the serial path's freshness semantics; results are only
    mutated on the coordinating thread.
    """

    def __init__(
        self,
        manager: BuildManager,
        executor,
        state_path: str | None = None,
        failure_backoff: str | timedelta | None = None,
        clock: Callable[[], float] = time.time,
    ) -> None:
        """``state_path``: optional JSONL run journal — every job
        outcome (unique_id, status, ts, duration, and for a failure the
        last attempt's ``error``) appends one line, so
        job state PERSISTS ACROSS RUNS (scheduler restarts, cron
        re-invocations). ``failure_backoff``: with a journal, a job
        whose most recent journal outcome is a FAILURE within this
        window is skipped as 'backoff' — a crashing job stops burning
        its retry budget every scheduler tick and resumes automatically
        once the window passes (or immediately under ``force=True``).
        A later success clears the backoff naturally (most-recent
        outcome wins).

        Journal timestamps and the backoff comparison both use
        ``clock`` (wall clock by default; injectable for tests) and
        NEVER the logical build ``now`` passed to start_execution —
        mixing the two bases (a backfill run passing a historical
        ``now`` vs a cron run passing none) would make the backoff
        window fire arbitrarily: always, or never. Logical ``now``
        drives build SEMANTICS (curfew, cache_time, staleness);
        backoff is an OPERATIONAL throttle and follows real time."""
        self.manager = manager
        self.executor = executor
        self.results: dict[str, str] = {}
        #: unique_id → "<ExceptionType>: <message>" of a failed job's
        #: last attempt (the journal line carries the same string);
        #: written by the job's own worker, one key per job
        self.errors: dict[str, str] = {}
        self.state_path = state_path
        self.clock = clock
        self.failure_backoff = (
            convert_to_timedelta(failure_backoff) if failure_backoff else None
        )

    # --- cross-run job-state journal ---

    def history(self) -> list[dict]:
        """All journal entries (oldest first); [] without a journal."""
        import json

        if not self.state_path:
            return []
        out: list[dict] = []
        try:
            with open(self.state_path) as f:
                for line in f:
                    line = line.strip()
                    if line:
                        try:
                            out.append(json.loads(line))
                        except ValueError:
                            continue  # torn tail line from a crash
        except OSError:
            return []
        return out

    def _last_outcomes(self) -> dict[str, dict]:
        last: dict[str, dict] = {}
        for entry in self.history():
            last[entry.get("unique_id", "")] = entry
        return last

    def _journal(
        self, unique_id: str, status: str, now: float, duration: float, error: str | None = None
    ) -> None:
        import json

        if not self.state_path:
            return
        entry = {
            "unique_id": unique_id,
            "status": status,
            "ts": now,
            "duration_s": round(duration, 3),
        }
        if error is not None:
            entry["error"] = error
        try:
            with open(self.state_path, "a") as f:
                f.write(json.dumps(entry) + "\n")
        except OSError:
            pass  # journaling must never fail the build

    def _in_backoff(self, cj: ConcreteJob, last: dict[str, dict]) -> bool:
        if self.failure_backoff is None:
            return False
        entry = last.get(cj.unique_id)
        return (
            entry is not None
            and entry.get("status") == "failed"
            and self.clock() - float(entry.get("ts", 0.0))
            < self.failure_backoff.total_seconds()
        )

    def _run_one(
        self,
        cj: ConcreteJob,
        now: float | None,
        force: bool,
        last: dict[str, dict] | None = None,
    ) -> str:
        """Evaluate + execute one job with retries. Never raises.

        ``now`` is the LOGICAL build time (curfew/cache_time/staleness
        only); journal timestamps and backoff use ``self.clock`` so the
        two bases never mix (see __init__)."""
        if not force and self._in_backoff(cj, last or {}):
            return "backoff"
        if not cj.get_should_run(now=now, force=force):
            return "skipped"
        t0 = time.time()
        attempts = 0
        while True:
            try:
                self.executor.execute(cj)
                self.errors.pop(cj.unique_id, None)
                self._journal(cj.unique_id, "ran", self.clock(), time.time() - t0)
                return "ran"
            except Exception as e:
                attempts += 1
                if attempts > cj.job.retries:
                    error = f"{type(e).__name__}: {e}"
                    self.errors[cj.unique_id] = error
                    self._journal(
                        cj.unique_id, "failed", self.clock(), time.time() - t0, error
                    )
                    return "failed"

    def start_execution(
        self,
        start: datetime,
        end: datetime,
        force: bool = False,
        now: float | None = None,
        max_workers: int = 1,
    ) -> dict[str, str]:
        """Build [start, end). Returns unique_id →
        'ran'|'skipped'|'failed'|'backoff' ('backoff' only with a
        journal + failure_backoff configured), accumulated over every
        call on this manager. Up to ``max_workers`` jobs run at once,
        each as soon as all its upstream jobs have finished."""
        bg = self.manager.expand(start, end)
        last = self._last_outcomes() if self.failure_backoff is not None else {}
        g = bg.graph
        indeg = {n: g.in_degree(n) for n in g.nodes}
        finished = 0
        with ThreadPoolExecutor(max_workers=max(1, max_workers)) as pool:
            futures: dict = {}

            def submit(n: str) -> None:
                futures[pool.submit(self._run_one, bg.jobs[n], now, force, last)] = n

            for n, d in indeg.items():
                if d == 0:
                    submit(n)
            while futures:
                done, _ = wait(futures, return_when=FIRST_COMPLETED)
                for f in done:
                    n = futures.pop(f)
                    self.results[n] = f.result()
                    finished += 1
                    for succ in g.successors(n):
                        indeg[succ] -= 1
                        if indeg[succ] == 0:
                            submit(succ)
        if finished != g.number_of_nodes():
            # nodes whose in-degree never reached 0 — the expanded graph
            # has a cycle; raise instead of returning partial results
            unreachable = sorted(n for n in g.nodes if indeg[n] > 0)
            raise ValueError(f"dependency cycle: {len(unreachable)} unreachable nodes, e.g. {unreachable[:3]}")
        return self.results
