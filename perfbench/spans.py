"""Spans and per-layer counters for the traced benchmark run.

Nothing here is inside the engine: :class:`Tracer` wraps the public
entry points of each engine module from the outside (module functions,
including every module that imported them by name, and ``LakeRepo`` /
``LakeSQL`` methods), times each call as a span, and restores the
originals on :meth:`Tracer.uninstall`.

Spans nest op → layer call → Spark jobs. Each op runs under its own
Spark job group (the op's span id); each layer call sets the Spark job
description to its own span id, so a job launched inside a layer call
carries that call's id in the event log, and a job launched by a lazy
action after the call returns carries the op's id.

:class:`CpuMeter` and :func:`probe_s` measure every run, traced or not:
the CPU seconds each op costs, and how fast the host runs right now.
"""

from __future__ import annotations

import functools
import hashlib
import os
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

PKG = "manage_versions_of_data_in_data_lake_using_lakefs_spark"

#: LakeRepo methods timed as ``versioning.repo.<name>``.
REPO_METHODS = (
    "write_table", "commit", "read_table", "merge", "diff", "compact",
    "vacuum", "create_branch", "log",
)

#: Statement kinds reported by ``versioning.sql.stmt_s.<kind>``; any other
#: statement counts as ``other``.
STMT_KINDS = ("select", "insert", "update", "delete", "merge", "optimize", "history", "other")


def stmt_kind(query: str) -> str:
    words = query.split(None, 2)
    head = words[0].lower() if words else ""
    second = words[1].lower() if len(words) > 1 else ""
    if head == "describe" and second == "history":
        return "history"
    if second == "branch":  # CREATE / MERGE / DROP BRANCH
        return "other"
    return head if head in STMT_KINDS else "other"


class Span:
    __slots__ = ("id", "parent", "layer", "name", "start", "end", "attrs")

    def __init__(self, sid: str, parent: str | None, layer: str, name: str):
        self.id, self.parent, self.layer, self.name = sid, parent, layer, name
        self.start = time.perf_counter()
        self.end = self.start
        self.attrs: dict = {}

    def as_dict(self) -> dict:
        return {
            "id": self.id, "parent": self.parent, "layer": self.layer,
            "name": self.name, "start": self.start, "end": self.end, **self.attrs,
        }


class Tracer:
    """Records spans and layer counters while installed."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.busy: dict[str, float] = defaultdict(float)
        self.calls: Counter = Counter()
        self.prune_kept = 0
        self.prune_considered = 0
        self._depth: Counter = Counter()
        self._restore: list[tuple[object, str, object]] = []
        self._next = 0

    # -- spans ------------------------------------------------------------
    def _new_id(self) -> str:
        self._next += 1
        return f"s{self._next}"

    @contextmanager
    def op(self, cls: str, name: str):
        """Root span of one benchmark op, under its own Spark job group."""
        span = Span(self._new_id(), None, f"op.{cls}", name)
        self.sc.setJobGroup(span.id, span.id)
        self.stack.append(span)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self.stack.pop()
            self.spans.append(span)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def layer(self, layer: str, name: str):
        """Span around one call into an engine layer; the outermost call
        per layer adds to that layer's busy time and call count."""
        parent = self.stack[-1] if self.stack else None
        span = Span(self._new_id(), parent.id if parent else None, layer, name)
        self.stack.append(span)
        self._depth[layer] += 1
        if parent is not None:
            self.sc.setLocalProperty("spark.job.description", span.id)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._depth[layer] -= 1
            if self._depth[layer] == 0:
                self.busy[layer] += span.end - span.start
                self.calls[layer] += 1
            self.stack.pop()
            self.spans.append(span)
            if parent is not None:
                self.sc.setLocalProperty("spark.job.description", parent.id)

    # -- wrapping ---------------------------------------------------------
    def _wrap(self, fn, layer: str, name: str, on_result=None, name_of=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.layer(layer, name_of(args) if name_of else name):
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out

        return wrapper

    def _patch_function(self, module, attr: str, layer: str, **kw) -> None:
        """Replace ``module.attr`` and every by-name import of it in the
        engine's loaded modules."""
        orig = getattr(module, attr)
        wrapped = self._wrap(orig, layer, attr, **kw)
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(PKG):
                continue
            for name, val in list(vars(mod).items()):
                if val is orig:
                    self._restore.append((mod, name, orig))
                    setattr(mod, name, wrapped)

    def _patch_method(self, cls, attr: str, layer: str, **kw) -> None:
        orig = cls.__dict__[attr]
        self._restore.append((cls, attr, orig))
        setattr(cls, attr, self._wrap(orig, layer, attr, **kw))

    def _count_prune(self, res) -> None:
        if res is not None:
            safe, candidates, _info = res
            self.prune_kept += len(candidates)
            self.prune_considered += len(safe) + len(candidates)

    def install(self) -> None:
        import importlib

        runtime = importlib.import_module(f"{PKG}.runtime")
        io = importlib.import_module(f"{PKG}.sources.io")
        log = importlib.import_module(f"{PKG}.versioning.log")
        stats = importlib.import_module(f"{PKG}.versioning.stats")
        changes = importlib.import_module(f"{PKG}.versioning.changes")
        repo = importlib.import_module(f"{PKG}.versioning.repo")
        sql = importlib.import_module(f"{PKG}.versioning.sql")

        self._patch_function(runtime, "local_df", "runtime.local_df")
        for name in ("load_table", "load_tables", "read_csv", "read_orc"):
            self._patch_function(io, name, "sources.read")
        for name in ("write_csv", "write_orc"):
            self._patch_function(io, name, "sources.sink")
        self._patch_function(log, "expand_entries", "versioning.log.expand")
        self._patch_function(stats, "file_stats", "versioning.stats.file_stats")
        self._patch_function(
            stats, "prune_file_list", "versioning.stats.prune",
            on_result=self._count_prune,
        )
        self._patch_function(changes, "table_changes", "versioning.changes.table_changes")
        for name in REPO_METHODS:
            self._patch_method(repo.LakeRepo, name, f"versioning.repo.{name}")
        self._patch_method(
            sql.LakeSQL, "sql", "versioning.sql",
            name_of=lambda args: f"versioning.sql.{stmt_kind(args[1])}",
        )

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    def stmt_stats(self) -> dict[str, tuple[int, float]]:
        """Statement kind → (count, summed seconds) over top-level
        ``LakeSQL.sql`` calls."""
        out = {k: [0, 0.0] for k in STMT_KINDS}
        by_id = {s.id: s for s in self.spans}
        for s in self.spans:
            if s.layer != "versioning.sql":
                continue
            parent = by_id.get(s.parent)
            if parent is not None and parent.layer == "versioning.sql":
                continue
            kind = s.name.rsplit(".", 1)[1]
            out[kind][0] += 1
            out[kind][1] += s.end - s.start
        return {k: (n, t) for k, (n, t) in out.items()}


# -- Spark status tracker ---------------------------------------------------
def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under one job group, from the
    status tracker; a stage reused from an earlier job is not counted
    again."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages: set[int] = set()
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    ran = 0
    for sid in stages:
        si = st.getStageInfo(sid)
        if si is not None and si.numCompletedTasks + si.numFailedTasks > 0:
            ran += 1
            tasks += si.numTasks
    return len(jobs), ran, tasks


# -- storage walks ----------------------------------------------------------
def snapshot_dir(root: str) -> dict[str, tuple[int, int]]:
    """Every regular file under ``root`` → (size, mtime_ns)."""
    out: dict[str, tuple[int, int]] = {}
    stack = [root]
    while stack:
        d = stack.pop()
        try:
            it = os.scandir(d)
        except FileNotFoundError:
            continue
        with it:
            for e in it:
                if e.is_dir(follow_symlinks=False):
                    stack.append(e.path)
                elif e.is_file(follow_symlinks=False):
                    st = e.stat(follow_symlinks=False)
                    out[e.path] = (st.st_size, st.st_mtime_ns)
    return out


def written_files(before: dict, after: dict) -> list[tuple[str, int]]:
    """Files created or rewritten between two snapshots, with sizes."""
    return sorted((p, v[0]) for p, v in after.items() if before.get(p) != v)


def dir_bytes(root: str) -> int:
    return sum(size for size, _ in snapshot_dir(root).values())


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.read_metadata(path).num_rows


#: Thread names (``comm``, which the kernel cuts to 15 characters) of the
#: JVM's JIT compiler threads and of its garbage-collector threads.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")
GC_THREADS = ("GC Thread", "G1 ", "VM Thread")


class CpuMeter:
    """CPU seconds the benchmark's ops cost, split three ways: ``engine``
    (the driver's Python process plus every JVM thread that is not a JIT
    compiler or garbage collector), ``jit`` and ``gc``.

    CPU time counts only time a thread ran, so it leaves out the time the
    host or other processes took the cores away; the JIT and collector
    threads run on their own schedule, so they are kept apart. Whole-JVM
    time comes from its process CPU clock, which keeps the time of threads
    that have ended; compiler and collector time from each thread's
    ``schedstat``.
    """

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self._clock = ((~jvm_pid) << 3) | 2  # Linux CPUCLOCK_SCHED of a process
        self._kind: dict[str, str | None] = {}

    def _runtime(self) -> dict[str, tuple[str, int]]:
        """tid → (kind, CPU ns) of the JVM's JIT and collector threads."""
        out = {}
        task_dir = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(task_dir):
            try:
                if tid not in self._kind:
                    with open(f"{task_dir}/{tid}/comm") as fh:
                        name = fh.read().strip()
                    self._kind[tid] = ("jit" if name.startswith(JIT_THREADS)
                                       else "gc" if name.startswith(GC_THREADS) else None)
                kind = self._kind[tid]
                if kind is not None:
                    with open(f"{task_dir}/{tid}/schedstat") as fh:
                        out[tid] = (kind, int(fh.read().split()[0]))
            except OSError:  # the thread ended
                continue
        return out

    def start(self) -> tuple:
        # Python's own clock is read last on start and first on stop, so
        # the meter's reads of /proc stay out of the measured interval
        jvm, runtime = time.clock_gettime(self._clock), self._runtime()
        return jvm, runtime, time.process_time()

    def stop(self, start: tuple) -> dict[str, float]:
        py = time.process_time()
        jvm, runtime = time.clock_gettime(self._clock), self._runtime()
        jvm0, runtime0, py0 = start
        split = {"jit": 0.0, "gc": 0.0}
        for tid, (kind, ns) in runtime.items():
            # a thread born in the interval counts from zero; one that
            # ended in it is dropped (compiler threads end only when idle)
            split[kind] += (ns - runtime0.get(tid, (kind, 0))[1]) / 1e9
        split["engine"] = (py - py0) + (jvm - jvm0) - split["jit"] - split["gc"]
        return split


#: The speed probe hashes this many bytes: about 3 ms of CPU on a
#: current x86 server core.
PROBE_BYTES = 4 << 20
_PROBE_DATA = bytes(range(256)) * (PROBE_BYTES // 256)
#: The probe's CPU time on the reference host. Op CPU is reported as the
#: reference host would spend it: scaled by this ÷ the run's median probe.
PROBE_REF_S = 0.003


def probe_s() -> float:
    """CPU seconds of one SHA-256 of a fixed buffer.

    The probe does not touch the engine, so its CPU time follows only how
    fast the host runs this process right now: on a shared host, the load
    on sibling hyperthreads and caches moves it, and the engine's CPU time
    with it, by up to 20% within minutes."""
    t = time.process_time()
    hashlib.sha256(_PROBE_DATA).digest()
    return time.process_time() - t


def peak_rss_mb(pid: int) -> float:
    """``VmHWM`` (peak resident set) of one process, from ``/proc``."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")
