"""Benchmark of the ETL engine: one workload per run, end to end and per layer.

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest_jobs --seed 1 --seconds 12 --trace 0

Workloads: ``ingest_jobs`` (a multi-step JobRunner job over generated
NDJSON/CSV files) and ``registry_sf0.01`` (a mix of registry entries over
generated tables, noop sink). The seed generates the inputs and, for the
registry mix, the step order of every pass.

One run: generate inputs, start the engine session on ``local[nproc]``
with the engine's defaults, run a first pass whose outputs are checked,
then ``WARMUP_PASSES`` untimed passes (the JVM is still compiling the
engine's hot paths: pass times fall steeply over the first few), then
timed passes (at least three) until ``--seconds`` have passed since the
first of them began. With ``--trace 0`` the end-to-end metrics are
reported; ``setup_s`` is the median of ``SETUP_SAMPLES`` cold starts
(this process's own, then fresh processes after its JVM has exited).
With ``--trace 1`` the session starts with Spark's event log on and the
passes run with one span (and one Spark job group) around every call
into a layer; the session then restarts without tracing for
reference passes. The run reports the per-layer metrics, including the
tracing overhead (traced minus reference pass time).

Human-readable lines go to stdout first; the last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. A detailed
report (host facts, every sample, spans and Spark counters) is written
to ``.perfbench_out/`` in the repository root. Scratch files live in
``.perfbench_tmp/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _process_start() -> float:
    """Wall-clock time at which this process started, from ``/proc``."""
    now = time.time()
    try:
        with open("/proc/self/stat", encoding="ascii") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime", encoding="ascii") as f:
            uptime = float(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return now
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return now - age if 0 <= age < 60 else now


WARMUP_PASSES = 1  # untimed passes between the checked and the timed ones
MIN_TIMED_PASSES = 3
MIN_TRACED_PASSES = 2
SETUP_SAMPLES = 2  # cold starts per untraced run; setup_s is their median


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(code)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def declared_metrics(kind: str) -> list[tuple[str, str]]:
    """(name, unit) of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec[kind]]


# -- host facts ---------------------------------------------------------------


def _git(*args: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, *args], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def host_facts(nproc: int) -> dict:
    mem_kb = None
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    # only when the repository root is a git work tree of its own
    top = _git("rev-parse", "--show-toplevel")
    commit = _git("rev-parse", "HEAD") if top and os.path.samefile(top, ROOT) else None
    status = _git("status", "--porcelain", "--untracked-files=no") if commit else None
    return {
        "nproc": nproc,
        "mem_total_mb": round(mem_kb / 1024) if mem_kb else None,
        "loadavg_start": list(os.getloadavg()),
        "commit": commit,
        "dirty": bool(status) if commit else None,
        "python": sys.version.split()[0],
    }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from ``/proc/stat``."""
    with open("/proc/stat", encoding="ascii") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (``VmHWM``) of a process, in MB; 0 if unknown."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


# -- statistics ---------------------------------------------------------------


def summarize(samples: list[float]) -> dict:
    """Median and the highest of p75/p90/p95/p99 with at least ten
    samples beyond it (none with fewer than 40 samples)."""
    out = {"n": len(samples), "median": statistics.median(samples)}
    for p in (99, 95, 90, 75):
        if len(samples) * (100 - p) / 100 >= 10:
            out[f"p{p}"] = statistics.quantiles(samples, n=100)[p - 1]
            break
    return out


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(max(v, 1e-9)) for v in values) / len(values))


# -- the run ------------------------------------------------------------------


class Session:
    """The engine session plus what is needed to stop its JVM cleanly."""

    def __init__(self, work_dir: str):
        self.work_dir = work_dir
        self.spark = None

    def conf(self, event_log_dir: str | None) -> dict[str, str]:
        # keep every file Spark writes inside the run's scratch directory
        conf = {
            "spark.local.dir": os.path.join(self.work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work_dir, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work_dir}",
            # explicit both ways: a restarted session would otherwise inherit
            # the setting the JVM was launched with
            "spark.eventLog.enabled": str(event_log_dir is not None).lower(),
        }
        if event_log_dir:
            conf.update({
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": event_log_dir,
            })
        return conf

    def start(self, event_log_dir: str | None = None) -> tuple[float, float]:
        """Start (or restart) the session; returns (get_spark s, warm-up s)."""
        from etl_tools_rs_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=self.conf(event_log_dir))
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        # the warm-up every engine entry point pays before its first query
        self.spark.range(1_000_000).selectExpr("sum(id)").collect()
        return t1 - t0, time.perf_counter() - t1

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def stop_context(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        self.stop_context()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def run_passes(workload, ctx, tracer_name: str, budget_s: float, min_passes: int,
               first_checked: bool, log: list) -> list[list]:
    """Passes until ``budget_s`` has elapsed and at least ``min_passes``
    ran. Returns each pass's steps; ``log`` gets one entry per pass, with
    ``tracer_name`` as its phase."""
    passes = []
    t0 = time.perf_counter()
    while True:
        checked = first_checked and not passes
        ctx.layer_stats = {}
        jobs0 = spark_jobs_started(ctx.spark)
        with ctx.tracer.span("pass", index=len(passes)) as span:
            steps = workload.run_pass(ctx, checked)
        passes.append(steps)
        log.append({
            "phase": tracer_name,
            "checked": checked,
            "spark_jobs": spark_jobs_started(ctx.spark) - jobs0,
            "span": span.id if span else None,
            "layer_counts": ctx.layer_stats,
            "steps": [s.__dict__ for s in steps],
        })
        if len(passes) >= min_passes and time.perf_counter() - t0 >= budget_s:
            return passes


def spark_jobs_started(spark) -> int:
    """Jobs the scheduler has accepted since the session started. Read from
    the scheduler itself: the status tracker learns of jobs asynchronously."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def pass_seconds(steps: list) -> float:
    return sum(s.seconds for s in steps)


def step_medians(passes: list[list]) -> dict[str, float]:
    by_step: dict[str, list[float]] = {}
    for steps in passes:
        for s in steps:
            if s.ok:
                by_step.setdefault(s.name, []).append(s.seconds)
    return {k: statistics.median(v) for k, v in by_step.items()}


def end_to_end(setup_s, first, timed, records, timed_jobs) -> dict[str, float]:
    pass_s = statistics.median(pass_seconds(p) for p in timed)
    data_steps = [[s for s in p if s.data_step] for p in timed]
    return {
        "setup_s": setup_s,
        "first_pass_s": pass_seconds(first),
        "pass_s": pass_s,
        "step_geomean_s": geomean(list(step_medians(data_steps).values())),
        "records_per_s": records / pass_s,
        "spark_jobs_per_pass": statistics.median(timed_jobs),
    }


def import_engine():
    """Import the engine and the workloads, as every cold start does."""
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401
        import etl_tools_rs_spark  # noqa: F401
        from perfbench import workloads
    except ImportError as e:
        _fail(f"the engine is not importable from {ROOT}: {e}")
    return workloads


def cold_start(work_dir: str) -> int:
    """Child side of ``cold_start_s``: import, start the session, run the
    warm-up, print the seconds since this process started, stop."""
    started = _process_start()
    import_engine()
    session = Session(work_dir)
    try:
        session.start()
        print(time.time() - started)
    finally:
        session.shutdown()
    return 0


def cold_start_s(work_dir: str) -> float:
    """One more set-up sample: process start to session ready, measured
    in a fresh Python process with a JVM of its own."""
    os.makedirs(work_dir)
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--cold-start", work_dir],
        capture_output=True, text=True, timeout=150,
    )
    if out.returncode != 0:
        raise RuntimeError(f"cold start failed: {out.stderr[-2000:]}")
    return float(out.stdout.strip().splitlines()[-1])


def main(argv: list[str]) -> int:
    started = _process_start()
    args = parse_args(argv)
    if args.seconds <= 0:
        _fail("--seconds must be positive")
    wl = import_engine()
    if args.workload not in wl.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(wl.WORKLOADS)}")

    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    # Spark's Python workers import the engine (and this package) from here
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    scratch_root = os.path.join(ROOT, ".perfbench_tmp")
    # a fixed path per (workload, seed): input file paths are data here (the
    # ingest job counts and shuffles rows by source file), so a random
    # directory name would change shuffle byte counts between runs
    work = os.path.join(scratch_root, f"{args.workload}-seed{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    # Spark prefers this variable to ``spark.local.dir``
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = work
    session = Session(work)
    try:
        return _run(args, wl, nproc, work, session, started)
    finally:
        try:
            session.shutdown()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(scratch_root)
            except OSError:
                pass


def _run(args, wl, nproc: int, work: str, session: Session, started: float) -> int:
    from perfbench.trace import Tracer

    steal0, total0 = cpu_ticks()
    # the benchmark's own preparation, excluded from setup_s
    t = time.perf_counter()
    host = host_facts(nproc)
    run_id = uuid.uuid4().hex[:8]
    workload = wl.WORKLOADS[args.workload]()
    ctx = wl.Context(None, Tracer(run_id, enabled=False), work, args.seed)
    workload.prepare(ctx)
    gen_s = time.perf_counter() - t

    log_dir = os.path.join(work, "eventlog") if args.trace else None
    if log_dir:
        os.makedirs(log_dir)
    get_spark_s, warmup_s = session.start(event_log_dir=log_dir)
    setup_s = time.time() - started - gen_s
    ctx.spark = session.spark

    log: list[dict] = []
    e2e: dict[str, float] = {}
    layer: dict[str, float] = {}
    if args.trace:
        measured, layer, trace_report = _traced(args, workload, ctx, session, log_dir, run_id, log)
    else:
        first = run_passes(workload, ctx, "first", 0, 1, True, log)
        warmup = run_passes(workload, ctx, "warmup", 0, WARMUP_PASSES, False, log)
        timed = run_passes(workload, ctx, "timed", args.seconds, MIN_TIMED_PASSES, False, log)
        measured = first + warmup + timed
    jvm = session.jvm_pid()
    peak_mb = vm_hwm_mb("self") + (vm_hwm_mb(jvm) if jvm else 0.0)
    setup_samples = [setup_s]
    if not args.trace:
        # more cold starts, one at a time, after this run's JVM has exited
        session.shutdown()
        setup_samples += [cold_start_s(os.path.join(work, f"cold{i}"))
                          for i in range(1, SETUP_SAMPLES)]
        e2e = end_to_end(statistics.median(setup_samples), first[0], timed, workload.records,
                         [p["spark_jobs"] for p in log if p["phase"] == "timed"])
    if args.trace:
        layer.update({
            "session.get_spark_s": get_spark_s,
            "session.warmup_s": warmup_s,
            "session.peak_rss_mb": peak_mb,
        })

    steal1, total1 = cpu_ticks()
    # CPU time the hypervisor gave to other guests: slows every timing here
    host["steal_frac"] = (steal1 - steal0) / max(total1 - total0, 1)
    all_steps = [s for p in measured for s in p]
    failed = [s for s in all_steps if not s.ok]
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "run_id": run_id,
        "host": host,
        "input_records_per_pass": workload.records,
        "gen_s": gen_s,
        "session": {"get_spark_s": get_spark_s, "warmup_s": warmup_s},
        "setup_samples": setup_samples,
        "tables_read": getattr(workload, "tables_read", None),
        "end_to_end": e2e,
        "peak_rss_mb": peak_mb,
        "passes": log,
        "per_layer": layer,
    }
    if args.trace:
        report.update(trace_report)
    _print_human(args, host, e2e, all_steps, failed, layer, workload, peak_mb, log)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(report, f, indent=1, default=str)
    print(f"report: {os.path.relpath(path, ROOT)}")

    if args.trace:
        metrics = {n: {"value": layer.get(n, 0), "unit": u}
                   for n, u in declared_metrics("per_layer")}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in declared_metrics("end_to_end")}
    print(json.dumps({
        "correct": not failed,
        "attempted": len(all_steps),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


def _traced(args, workload, ctx, session: Session, log_dir: str, run_id: str, log: list):
    """Traced passes on the session started with the event log on (the
    first one checked), then untraced reference passes on a fresh session,
    for the tracing overhead. The first pass on each session warms it and
    is left out of the per-layer figures. Returns (all passes, per-layer
    metrics, extra report fields)."""
    from perfbench import eventlog
    from perfbench.trace import Tracer

    tracer = ctx.tracer = Tracer(run_id, enabled=True, spark_context=session.spark.sparkContext)
    traced = run_passes(workload, ctx, "traced", args.seconds / 2, MIN_TRACED_PASSES, True, log)
    t = time.perf_counter()
    session.stop_context()  # flushes the event log
    session.start()
    restart_s = time.perf_counter() - t
    ctx.spark = session.spark
    ctx.tracer = Tracer(run_id, enabled=False)
    reference = run_passes(workload, ctx, "reference", args.seconds / 2, MIN_TRACED_PASSES,
                           False, log)
    counters = attribute(tracer, *eventlog.parse_dir(log_dir))
    layer = per_layer(tracer, counters, log, traced[1:], reference[1:])
    layer["session.restart_s"] = restart_s
    return traced + reference, layer, {"spans": tracer.to_json(), "spark_counters": counters}


def _print_human(args, host, e2e, all_steps, failed, layer, workload, peak_mb, log) -> None:
    print(f"host: nproc={host['nproc']} mem_total_mb={host['mem_total_mb']} "
          f"loadavg={host['loadavg_start'][0]:.2f} commit={host['commit']} "
          f"dirty={host['dirty']} "
          f"steal_frac={host['steal_frac']:.3f}")
    print(f"workload: {args.workload} seed={args.seed} trace={args.trace} "
          f"input_records={workload.records} passes={len(log)}")
    if e2e:
        warm_stats = summarize([sum(s["seconds"] for s in p["steps"])
                                for p in log if p["phase"] == "timed"])
        for name, unit in declared_metrics("end_to_end"):
            n = {"setup_s": SETUP_SAMPLES, "first_pass_s": 1}.get(name, warm_stats["n"])
            print(f"  {name:<20} {e2e[name]:>14.4f} {unit:<5} (n={n})")
        high = {k: v for k, v in warm_stats.items() if k.startswith("p")}
        print("  pass_s percentile with >=10 samples beyond it: "
              f"{high or 'none (too few passes)'}")
    print(f"  failed_frac          {len(failed) / len(all_steps):>14.4f} "
          f"({len(failed)}/{len(all_steps)} steps)")
    print(f"  peak_rss_mb          {peak_mb:>14.1f} MB    (Python driver + JVM, VmHWM)")
    for s in failed:
        print(f"  FAILED {s.name}: {s.error}")
    for name, value in sorted(layer.items()):
        print(f"  {name:<48} {value:.6g}")


# -- per-layer metrics (traced run) -------------------------------------------


def attribute(tracer, counters: dict, first_submitted: dict) -> dict:
    """Counters keyed by span id. Jobs whose group is not a span (Structured
    Streaming runs micro-batches under its own group, on its own thread)
    go to the innermost span open when the group's first job was submitted."""
    from perfbench import eventlog

    span_ids = {s.id for s in tracer.spans}
    out: dict[str, list] = {}
    for group, c in counters.items():
        if group not in span_ids and group in first_submitted:
            span = tracer.innermost_at(first_submitted[group] / 1000)
            group = span.id if span else group
        out.setdefault(group, []).append(c)
    return {g: eventlog.total(cs) for g, cs in out.items()}


def per_layer(tracer, counters, log, traced, reference) -> dict:
    """Per-layer figures: the median over ``traced`` passes of each span
    kind's time and Spark counters, and the tracing overhead against the
    untraced ``reference`` passes."""
    from perfbench import eventlog

    spans_by_id = {s.id: s for s in tracer.spans}
    traced_log = [p for p in log if p["phase"] == "traced"][1:]  # as ``traced``
    per_pass: list[dict[str, float]] = []
    for entry in traced_log:
        root = spans_by_id[entry["span"]]
        tree = tracer.subtree(root)
        m: dict[str, float] = dict(entry["layer_counts"])

        def add(key: str, v: float) -> None:
            m[key] = m.get(key, 0) + v

        def spark_of(span) -> dict[str, int]:
            return eventlog.total([counters.get(s.id, {}) for s in tracer.subtree(span)])

        per_write: list[float] = []
        for s in tree:
            if s.name == "sources.to_df":
                add("sources.to_df_s", s.duration)
            elif s.name == "jobs.run_stream":
                add("jobs.run_stream_s", tracer.self_time(s))
                c = spark_of(s)
                kind = s.attrs["step"].split("_")[0]
                add(f"jobs.run_stream.{kind}.spark_jobs", c["jobs"])
                writes = sum(1 for x in tracer.subtree(s) if x.name == "sinks.file_write")
                per_write.append(c["sql_executions"] / max(writes, 1))
            elif s.name in ("jobs.run_cmd", "jobs.run_stream_handler", "jobs.skip_rerun"):
                add(f"{s.name}_s", s.duration)
            elif s.name == "jobs.complete":
                add("jobs.output_task_wait_s", s.duration)
            elif s.name == "jobs.state_save":
                add("jobs.state_saves", 1)
                add("jobs.state_save_s", s.duration)
            elif s.name == "sinks.file_write":
                add("sinks.file_write_s", s.duration)
            elif s.name == "sinks.write_training_shards":
                add("sinks.shards_write_s", s.duration)
            elif "entry" in s.attrs:
                c = spark_of(s)
                add(f"{s.name}.wall_s", s.duration)
                add(f"{s.name}.spark_jobs", c["jobs"])
                add(f"{s.name}.shuffle_write_bytes", c["shuffle_write_bytes"])
                add(f"{s.name}.executor_cpu_ms", c["executor_cpu_ms"])
        if per_write:
            m["jobs.run_stream.actions_per_write"] = statistics.mean(per_write)
        c = spark_of(root)
        total_stages = c["stages"] + c["stages_skipped"]
        m.update({
            "spark.jobs": c["jobs"],
            "spark.stages": c["stages"],
            "spark.stages_skipped": c["stages_skipped"],
            "spark.stage_reuse_ratio": c["stages_skipped"] / total_stages if total_stages else 0.0,
            "spark.tasks": c["tasks"],
            "spark.shuffle_read_bytes": c["shuffle_read_bytes"],
            "spark.spill_bytes": c["spill_bytes"],
            "spark.input_records": c["input_records"],
            "spark.task_cpu_util": (
                c["executor_cpu_ms"] / c["executor_run_ms"] if c["executor_run_ms"] else 0.0
            ),
            "spark.scheduler_delay_ms": c["scheduler_delay_ms"],
            "spark.failed_tasks": c["failed_tasks"],
        })
        per_pass.append(m)
    keys = sorted({k for m in per_pass for k in m})
    out = {k: statistics.median(m.get(k, 0) for m in per_pass) for k in keys}
    traced_s = statistics.median(pass_seconds(p) for p in traced)
    out["trace.pass_s"] = traced_s
    out["trace.overhead_s"] = traced_s - statistics.median(pass_seconds(p) for p in reference)
    return out


if __name__ == "__main__":
    if sys.argv[1:2] == ["--cold-start"]:
        raise SystemExit(cold_start(sys.argv[2]))
    raise SystemExit(main(sys.argv[1:]))
