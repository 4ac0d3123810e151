"""Versioned-lakehouse benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload dml_churn --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The engine package is imported from
that checkout; every file the run creates lives in a per-run directory
under ``.perfbench_runs/`` that is deleted when the run ends.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
ops on two fresh repos, alternating untraced and traced cycles, and
prints the per-layer metrics plus the tracing overhead (traced minus
untraced op time); its spans and per-op counters go to ``--spans``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. The exit code is non-zero
when any op failed or any output differed from the DuckDB replay.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TAIL_BEYOND = 10  # a tail has at least this many samples beyond it


def tail(values: list[float]) -> float:
    """The highest order statistic with at least ``TAIL_BEYOND`` samples
    above it (the maximum when there are fewer samples than that)."""
    s = sorted(values)
    return s[len(s) - 1 - TAIL_BEYOND] if len(s) > TAIL_BEYOND else s[-1]


class PassResult:
    def __init__(self, cpu):
        self.cpu = cpu
        #: op class → wall seconds of each op
        self.samples: dict[str, list[float]] = defaultdict(list)
        #: op class → engine CPU seconds of each op
        self.cpu_samples: dict[str, list[float]] = defaultdict(list)
        #: CPU seconds of all ops by kind: engine, jit, gc
        self.cpu_s: dict[str, float] = defaultdict(float)
        #: CPU seconds of each speed probe, one before and one after each op
        self.probe_s: list[float] = []
        self.cycle_s: list[float] = []
        self.attempted = 0
        self.errors: list[str] = []
        self.op_s = 0.0
        self.ops: list[dict] = []


def run_cycle(wl, cycle, res: PassResult, spark=None, tracer=None) -> None:
    """Run one cycle of ``wl``'s ops in order, timing each op's ``run``
    only, in wall time and in CPU time; with a tracer, also record each
    op's span and counters."""
    from spans import job_counts, parquet_rows, probe_s, snapshot_dir, written_files

    cycle_s = 0.0
    for op in cycle:
        res.attempted += 1
        if tracer is not None:
            before = snapshot_dir(wl.repo.root)
        span = None
        res.probe_s.append(probe_s())
        c0 = res.cpu.start()
        t0 = time.perf_counter()
        try:
            if tracer is None:
                out = op.run()
            else:
                with tracer.op(op.cls, op.name) as span:
                    out = op.run()
            dt = time.perf_counter() - t0
            used = res.cpu.stop(c0)
            err = op.check(out) if op.check is not None else None
        except Exception:
            dt = time.perf_counter() - t0
            used = res.cpu.stop(c0)
            err = traceback.format_exc(limit=3)
        res.probe_s.append(probe_s())
        cycle_s += dt
        res.samples[op.cls].append(dt)
        res.cpu_samples[op.cls].append(used["engine"])
        for kind, v in used.items():
            res.cpu_s[kind] += v
        if err:
            res.errors.append(f"{op.name}: {err}")
        if span is not None:
            written = written_files(before, snapshot_dir(wl.repo.root))
            data = [(p, n) for p, n in written if p.endswith(".parquet")]
            meta = [(p, n) for p, n in written if p.endswith(".json")]
            jobs, stages, tasks = job_counts(spark, span.id)
            span.attrs.update(
                cls=op.cls, seconds=dt, jobs=jobs, stages=stages, tasks=tasks,
                data_files=len(data), data_bytes=sum(n for _, n in data),
                meta_files=len(meta), meta_bytes=sum(n for _, n in meta),
                rows_written=sum(parquet_rows(p) for p, _ in data),
                rows_changed=op.rows_changed, failed=bool(err),
            )
            res.ops.append(span.attrs | {"id": span.id, "name": op.name})
    res.cycle_s.append(cycle_s)
    res.op_s += cycle_s


def run_pass(wl, cpu) -> PassResult:
    res = PassResult(cpu)
    for cycle in wl.cycles():
        run_cycle(wl, cycle, res)
    return res


def run_traced(plain_wl, traced_wl, spark, tracer, cpu) -> tuple[PassResult, PassResult]:
    """The same ops on two repos, cycle by cycle: untraced on one, traced
    on the other. Interleaving keeps JIT warm-up and machine drift out
    of the traced-minus-untraced overhead."""
    plain, traced = PassResult(cpu), PassResult(cpu)
    for plain_cycle, traced_cycle in zip(plain_wl.cycles(), traced_wl.cycles()):
        run_cycle(plain_wl, plain_cycle, plain)
        tracer.install()
        try:
            run_cycle(traced_wl, traced_cycle, traced, spark, tracer)
        finally:
            tracer.uninstall()
    return plain, traced


def storage_ratio(wl) -> tuple[float, int]:
    """(bytes under the repo root ÷ bytes of the head's live data files,
    number of live data files)."""
    from spans import dir_bytes

    live = wl.live_data_files()
    return dir_bytes(wl.repo.root) / sum(os.path.getsize(p) for p in live), len(live)


def speed_scale(res: PassResult) -> float:
    """Factor that turns this run's CPU seconds into the reference host's."""
    from spans import PROBE_REF_S

    return PROBE_REF_S / statistics.median(res.probe_s)


def end_to_end(res: PassResult, setup_s: float, space_amp: float) -> dict:
    """The gated metrics. Op costs are engine CPU seconds scaled to the
    reference host speed, not wall seconds: on a shared host, wall time
    follows the load of other tenants and CPU time follows the host's
    speed, each by more than a bound (README, "Steadiness")."""
    scale = speed_scale(res)
    m = {
        "setup_s": (setup_s, "s"),
        "cpu_s_per_op": (scale * res.cpu_s["engine"] / res.attempted, "s"),
    }
    for cls in ("read", "meta"):
        m[f"{cls}_cpu_s"] = (scale * statistics.fmean(res.cpu_samples[cls]), "s")
    m["space_amp"] = (space_amp, "ratio")
    return m


def informational(res: PassResult, errors: list[str], attempted: int, rss_mb: float) -> dict:
    """Figures printed for the reader but not gated: wall times, which
    follow the host's load (means, p50s, tails, throughput), the scaled
    CPU of a write, too few and too uneven samples per run to hold within
    a bound, CPU seconds as measured (engine, and JIT compiler and
    collector threads, which run on their own schedule) with the speed
    probe they are scaled by, peak RSS, which follows the collector's
    timing, and the failed ratio, which is zero on correct code."""
    out = {
        "failed_ratio": len(errors) / attempted, "ops": res.attempted, "peak_rss_mb": rss_mb,
        "ops_per_s": res.attempted / res.op_s,
        "write_cpu_s": speed_scale(res) * statistics.fmean(res.cpu_samples["write"]),
        "probe_ms": 1e3 * statistics.median(res.probe_s),
        "engine_cpu_s_per_op_unscaled": res.cpu_s["engine"] / res.attempted,
        "jit_cpu_s_per_op_unscaled": res.cpu_s["jit"] / res.attempted,
        "gc_cpu_s_per_op_unscaled": res.cpu_s["gc"] / res.attempted,
    }
    for cls, xs in sorted(res.samples.items()):
        out[f"{cls}_n"] = len(xs)
        out[f"{cls}_mean_s"] = statistics.fmean(xs)
        out[f"{cls}_p50_s"] = statistics.median(xs)
        out[f"{cls}_tail_s"] = tail(xs)
    out["cycle_s"] = statistics.median(res.cycle_s)
    out["maint_s"] = sum(res.samples.get("maint", []))
    return out


def per_layer(tracer, res: PassResult, untraced_s: float, session_s: float,
              ev, live_files: int) -> dict:
    from eventlog import COUNTERS
    from spans import REPO_METHODS

    n_ops = max(len(res.ops), 1)
    busy, calls = tracer.busy, tracer.calls
    m = {
        "session.start_s": (session_s, "s"),
        "queries.build_s": (busy["queries.build"], "s"),
        "queries.calls": (calls["queries.build"], "count"),
        "spark.exec_s": (busy["spark.exec"], "s"),
        "sources.read_s": (busy["sources.read"], "s"),
        "sources.read_calls": (calls["sources.read"], "count"),
        "sources.sink_s": (busy["sources.sink"], "s"),
        "sources.sink_calls": (calls["sources.sink"], "count"),
    }
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}"] = (sum(o[k] for o in res.ops) / n_ops, "count/op")
    for k in COUNTERS:
        total = sum(ev.by_group[o["id"]][k] for o in res.ops)
        m[f"spark.{k}"] = (total, "B" if "bytes" in k else "ms" if k.endswith("_ms") else "count")
    for kind, (n, t) in tracer.stmt_stats().items():
        m[f"versioning.sql.stmt_s.{kind}"] = (t, "s")
        m[f"versioning.sql.stmts.{kind}"] = (n, "count")
    for name in REPO_METHODS:
        m[f"versioning.repo.{name}_s"] = (busy[f"versioning.repo.{name}"], "s")
        m[f"versioning.repo.{name}_calls"] = (calls[f"versioning.repo.{name}"], "count")
    m["versioning.log.meta_files_written"] = (sum(o["meta_files"] for o in res.ops), "count")
    m["versioning.log.meta_bytes_written"] = (sum(o["meta_bytes"] for o in res.ops), "B")
    m["versioning.log.expand_calls"] = (calls["versioning.log.expand"], "count")
    m["versioning.log.expand_s"] = (busy["versioning.log.expand"], "s")
    m["versioning.stats.prune_kept_ratio"] = (
        tracer.prune_kept / tracer.prune_considered if tracer.prune_considered else 1.0, "ratio")
    m["versioning.stats.file_stats_s"] = (busy["versioning.stats.file_stats"], "s")
    m["versioning.stats.file_stats_calls"] = (calls["versioning.stats.file_stats"], "count")
    m["versioning.changes.table_changes_s"] = (busy["versioning.changes.table_changes"], "s")
    m["versioning.changes.table_changes_calls"] = (calls["versioning.changes.table_changes"], "count")
    m["runtime.local_df_s"] = (busy["runtime.local_df"], "s")
    m["runtime.local_df_calls"] = (calls["runtime.local_df"], "count")
    m["storage.data_bytes_written"] = (sum(o["data_bytes"] for o in res.ops), "B")
    m["storage.data_files_written"] = (sum(o["data_files"] for o in res.ops), "count")
    changed = [o for o in res.ops if o["rows_changed"]]
    m["storage.rows_rewritten_per_row_changed"] = (
        sum(o["rows_written"] for o in changed) / sum(o["rows_changed"] for o in changed)
        if changed else 0.0, "ratio")
    m["storage.live_data_files"] = (live_files, "count")
    m["jvm.jit_cpu_s"] = (res.cpu_s["jit"], "s")
    m["jvm.gc_cpu_s"] = (res.cpu_s["gc"], "s")
    m["trace.overhead_s"] = (res.op_s - untraced_s, "s")
    m["trace.overhead_ratio"] = (res.op_s / untraced_s - 1.0, "ratio")
    return m


def write_spans(path: Path, tracer, res: PassResult, ev) -> None:
    jobs_by_span = ev.jobs_by_description()
    spans = []
    for s in tracer.spans:
        d = s.as_dict()
        d["spark_jobs"] = jobs_by_span.get(s.id, [])
        spans.append(d)
    path.parent.mkdir(parents=True, exist_ok=True)
    ops = [o | {"spark": ev.by_group[o["id"]]} for o in res.ops]
    path.write_text(json.dumps({"ops": ops, "spans": spans}, indent=1, default=str))


def bench(args, run_dir: Path) -> tuple[dict, bool]:
    import datagen
    from spans import CpuMeter, Tracer, peak_rss_mb
    from workloads import WORKLOADS

    from manage_versions_of_data_in_data_lake_using_lakefs_spark.session import get_spark

    wl_cls = WORKLOADS[args.workload]
    sf_dir = datagen.write_tables(datagen.make_tables(args.seed, wl_cls.n_orders), str(run_dir / "sf"))
    conf = {
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        os.makedirs(run_dir / "events")
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(run_dir / "events"),
            "spark.eventLog.compress": "false",
        }
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    session_s = time.perf_counter() - t0
    up_s = time.perf_counter() - T_PROCESS
    try:
        spark.sparkContext.setLogLevel("ERROR")
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        cycles = wl_cls.cycles_for(args.seconds)
        seed_s = []

        def fresh(name: str, n_cycles: int):
            wl = wl_cls(spark, sf_dir, args.seed, str(run_dir / name), n_cycles)
            t = time.perf_counter()
            wl.seed_repo()
            seed_s.append(time.perf_counter() - t)
            return wl

        cpu = CpuMeter(jvm_pid)
        t = time.perf_counter()
        warm = run_pass(fresh("warmup", 1), cpu)
        warm_s = time.perf_counter() - t - seed_s[0]
        shutil.rmtree(run_dir / "warmup", ignore_errors=True)
        errors = list(warm.errors)

        wl = fresh("repo", cycles)
        setup_s = up_s + statistics.median(seed_s) + warm_s
        if not args.trace:
            res = run_pass(wl, cpu)
        else:
            traced_wl = fresh("traced", cycles)
            tracer = Tracer(spark)
            traced_wl.span = tracer.layer
            res, traced = run_traced(wl, traced_wl, spark, tracer, cpu)
            errors += traced.errors + traced_wl.final_check()
            _, live = storage_ratio(traced_wl)
        errors += res.errors + wl.final_check()
        attempted = warm.attempted + res.attempted + (traced.attempted if args.trace else 0)
        if not args.trace:
            space_amp, _ = storage_ratio(wl)
            metrics = end_to_end(res, setup_s, space_amp)
            extra = informational(res, errors, attempted, peak_rss_mb(jvm_pid))
    finally:
        gateway = spark.sparkContext._gateway
        spark.stop()
        # the JVM exits once its stdin closes; wait for it so the run
        # leaves no process behind
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)

    if args.trace:
        from eventlog import EventLog

        ev = EventLog(str(run_dir / "events"))
        metrics = per_layer(tracer, traced, res.op_s, session_s, ev, live)
        write_spans(Path(args.spans or ROOT / ".perfbench_out" /
                         f"spans-{args.workload}-{args.seed}.json"), tracer, traced, ev)
        extra = {"failed_ratio": len(errors) / attempted, "ops": traced.attempted}

    for e in errors:
        print(f"FAILED {e}", file=sys.stderr)
    for name, value in {**{k: v for k, (v, _) in metrics.items()}, **extra}.items():
        print(f"{name:48s} {value}")
    result = {
        "correct": not errors,
        "attempted": attempted,
        "failed": len(errors),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, not errors


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("dml_churn", "pipeline_chain"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="run budget; fixes the op count, which does not depend on speed")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--spans", help="where --trace 1 writes spans and per-op counters")
    args = p.parse_args(argv)

    run_dir = ROOT / ".perfbench_runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    run_dir.mkdir(parents=True)
    # temp files of the engine, Spark and the reference jobs' sinks all
    # land in the run directory and go with it
    os.environ["TMPDIR"] = str(run_dir)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # a bounded driver heap keeps the peak resident set from following
    # the collector's timing
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    tempfile.tempdir = str(run_dir)
    sys.path.insert(1, str(ROOT))
    try:
        result, ok = bench(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
