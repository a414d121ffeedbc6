"""The benchmark's workloads: one JobRunner ingest job and one registry mix.

Each workload generates its inputs from the seed (``prepare``) and then
runs passes (``run_pass``). A pass returns one ``Step`` per step with its
wall time and whether it raised or failed its output check. The first pass
of a run is the checked pass: registry steps are timed like every other
pass (noop sink), then collect their rows, which are compared against
their DuckDB oracle; ingest steps are compared against the generator's
ground truth. Every check runs after the step's timer has stopped.
"""

from __future__ import annotations

import glob
import importlib.util
import os
import random
import shutil
import time
import traceback
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from typing import Any

import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.trace import Tracer, make_store, wrap_sink

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@dataclass
class Step:
    name: str
    seconds: float
    ok: bool = True
    error: str | None = None
    data_step: bool = True  # False for steps that process no records


@dataclass
class Context:
    spark: Any
    tracer: Tracer
    work_dir: str  # scratch space for this run, removed at exit
    seed: int
    layer_stats: dict[str, float] = field(default_factory=dict)  # per-pass counts

    def count(self, key: str, value: float) -> None:
        self.layer_stats[key] = self.layer_stats.get(key, 0) + value


def _failure(e: BaseException) -> str:
    return "".join(traceback.format_exception_only(type(e), e)).strip()[:500]


# -- registry mixes -----------------------------------------------------------


def _load_comparator():
    """``frame_key`` from the repository's correctness gate, so the
    benchmark's check is the gate's check."""
    path = os.path.join(ROOT, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("_perfbench_gate", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@contextmanager
def _parquet_reads(data_dir: str, into: set[str]):
    """Record the name of every table under ``data_dir`` that is read with
    ``spark.read.parquet`` while the block runs."""
    from pyspark.sql.readwriter import DataFrameReader

    original = DataFrameReader.parquet

    def parquet(self, *paths, **options):
        for p in paths:
            if os.path.dirname(p) == data_dir and p.endswith(".parquet"):
                into.add(os.path.basename(p)[: -len(".parquet")])
        return original(self, *paths, **options)

    DataFrameReader.parquet = parquet
    try:
        yield
    finally:
        DataFrameReader.parquet = original


class RegistryMix:
    """Registry entries over generated tables, executed with the noop sink.

    ``entries`` maps entry name → metric prefix. The tables each entry
    reads are recorded during the checked pass; their row counts give the
    pass's input record count."""

    def __init__(self, scale: float, entries: dict[str, str]):
        self.scale = scale
        self.entries = entries
        self.data_dir = ""
        self.records = 0
        self.tables_read: dict[str, list[str]] = {}
        self._rows: dict[str, int] = {}
        self._rng: random.Random | None = None
        self._gate: Any = None

    def prepare(self, ctx: Context) -> None:
        self._gate = _load_comparator()
        self.data_dir = os.path.join(ctx.work_dir, "tables")
        self._rows = datagen.write_tables(self.data_dir, ctx.seed, self.scale)
        self._rng = random.Random(ctx.seed)

    def run_pass(self, ctx: Context, checked: bool) -> list[Step]:
        from etl_tools_rs_spark.queries import REGISTRY
        from etl_tools_rs_spark.sinks.noop import NoopSink

        order = list(self.entries)
        self._rng.shuffle(order)
        steps = []
        for entry in order:
            fn = REGISTRY[entry].fn
            tables: set[str] = set()
            reads = _parquet_reads(self.data_dir, tables) if checked else nullcontext()
            try:
                with ctx.tracer.span(self.entries[entry], entry=entry), reads:
                    t0 = time.perf_counter()
                    df = fn(ctx.spark, self.data_dir)
                    NoopSink(use_noop_format=True).write(df)
                    seconds = time.perf_counter() - t0
                step = Step(entry, seconds)
                if checked:
                    self.tables_read[entry] = sorted(tables)
                    problem = self._check(entry, df.columns, [tuple(r) for r in df.collect()])
                    if problem:
                        step.ok, step.error = False, problem
            except Exception as e:  # noqa: BLE001 — a failed step is a result
                step = Step(entry, 0.0, False, _failure(e))
            steps.append(step)
        if checked:
            self.records = sum(
                self._rows[t] for tables in self.tables_read.values() for t in tables
            )
        return steps

    def _check(self, entry: str, cols: list[str], rows: list[tuple]) -> str | None:
        import duckdb

        from etl_tools_rs_spark.queries import REGISTRY

        gate = self._gate
        q = REGISTRY[entry]
        if q.oracle is None or q.oracle_sf is not None:
            return f"{entry}: no oracle valid on generated data"
        con = duckdb.connect()
        try:
            con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
            for t in gate.TABLES:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            res = con.execute(q.oracle)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        finally:
            con.close()
        if not drows:
            return f"{entry}: the oracle returns no rows, so the check would prove nothing"
        if len(rows) != len(drows):
            return f"{entry}: rowcount spark={len(rows)} oracle={len(drows)}"
        if sorted(cols) != sorted(dcols):
            return f"{entry}: columns spark={sorted(cols)} oracle={sorted(dcols)}"
        if gate.frame_key(cols, rows) != gate.frame_key(dcols, drows):
            return f"{entry}: values differ from the oracle"
        return None


# Entry → metric prefix. Relational steps first, then near-dup grouping
# (MinHash LSH, then connected components) and one stateful streaming
# micro-batch step.
REGISTRY_ENTRIES = {
    "q1_pricing_summary": "queries.q1_pricing_summary",
    "q21_exists_not_exists": "queries.q21_exists_not_exists",
    "window_running_total": "queries.window_running_total",
    "asof_join_events_orders": "queries.asof_join_events_orders",
    "dedup_groups_lsh": "queries.dedup_groups_lsh",
    "streaming_stateful_counts": "streaming.stateful_counts",
}


# -- JobRunner ingest job -----------------------------------------------------


def _partition_counter():
    """A ``StreamHandler`` whose ``process_partition`` counts rows. Built
    in a function so the class is pickled by value into Spark tasks."""
    from etl_tools_rs_spark.jobs.runner import StreamHandler

    class PartitionCounter(StreamHandler):
        def process_partition(self, rows):
            n = 0
            for _ in rows:
                n += 1
            return n, 0

    return PartitionCounter()


def _parquet_rows(path: str) -> tuple[int, int, int]:
    """(rows, bytes, files) of the parquet data files under ``path``."""
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return rows, sum(os.path.getsize(f) for f in files), len(files)


class IngestJobs:
    """One multi-step JobRunner job over generated NDJSON and CSV files,
    then a second runner on the same state that must skip every step."""

    ndjson_records = 20_000
    csv_records = 10_000
    n_shards = 4

    def __init__(self) -> None:
        self.truth: datagen.IngestTruth | None = None
        self.records = 0
        self._pass = 0

    def prepare(self, ctx: Context) -> None:
        self.truth = datagen.write_ingest_files(
            os.path.join(ctx.work_dir, "ingest_in"), ctx.seed,
            self.ndjson_records, self.csv_records,
        )
        self.records = self.truth.records

    def run_pass(self, ctx: Context, checked: bool) -> list[Step]:
        from pyspark.sql import functions as F

        from etl_tools_rs_spark.functions import token_count
        from etl_tools_rs_spark.jobs.runner import JobRunner
        from etl_tools_rs_spark.operators.dedup import dedup_exact
        from etl_tools_rs_spark.operators.transform import transform
        from etl_tools_rs_spark.sinks.files import FileSink
        from etl_tools_rs_spark.sinks.shards import write_training_shards
        from etl_tools_rs_spark.sources.files import FileSource

        spark, tr, truth = ctx.spark, ctx.tracer, self.truth
        work = os.path.join(ctx.work_dir, f"ingest_pass{self._pass}")
        self._pass += 1
        out = {k: os.path.join(work, k) for k in ("ndjson", "csv", "shards", "summary")}
        store_dir = os.path.join(work, "state")
        steps: list[Step] = []
        results: dict[str, Any] = {}

        def timed(name: str, fn, data_step: bool = True) -> None:
            with tr.span(f"step.{name}"):
                t0 = time.perf_counter()
                try:
                    results[name] = fn()
                except Exception as e:  # noqa: BLE001 — a failed step is a result
                    steps.append(Step(name, time.perf_counter() - t0, False, _failure(e)))
                    return
                steps.append(Step(name, time.perf_counter() - t0, data_step=data_step))

        def source(files: list[str], fmt: str) -> Any:
            with tr.span("sources.to_df"):
                if fmt == "parquet":
                    return FileSource(files, format="parquet", with_source=False).to_df(spark)
                return FileSource(files, format=fmt, schema=datagen.INGEST_SCHEMA).to_df(spark)

        def dedup_shards(_jr: Any) -> int:
            rows = source([out["ndjson"], out["csv"]], "parquet")
            cleaned = transform(
                rows,
                cols={"text": F.lower(F.col("text")), "n_tok": token_count("text")},
                where=F.col("id").isNotNull(),
            )
            winners = dedup_exact(cleaned, "text", "id").select("id")
            with tr.span("sinks.write_training_shards"):
                manifest = write_training_shards(
                    cleaned.join(winners, "id"), out["shards"], self.n_shards, key_cols=["id"]
                )
            return manifest.total_rows

        def summary(parent: Any) -> None:
            with tr.span("jobs.output_task", parent=parent):
                by_lang = source([out["ndjson"]], "parquet").groupBy("lang").count()
                wrap_sink(tr, FileSink(out["summary"]), "sinks.file_write").write(by_lang)

        ndjson_df = source(truth.ndjson_files, "json")
        csv_df = source(truth.csv_files, "csv")
        jr = JobRunner("bench", "ingest", make_store(tr, store_dir), max_errors=10**9)
        sinks = {
            k: wrap_sink(tr, FileSink(out[k]), "sinks.file_write") for k in ("ndjson", "csv")
        }

        def stream(name: str, df: Any, sink: Any) -> Any:
            with tr.span("jobs.run_stream", step=name):
                return jr.run_stream(name, df, sink)

        def cmd() -> Any:
            with tr.span("jobs.run_cmd"):
                return jr.run_cmd("dedup_shards", dedup_shards)

        def handler() -> Any:
            shards_df = source([out["shards"]], "parquet")
            with tr.span("jobs.run_stream_handler"):
                return jr.run_stream_handler("partition_handler", shards_df, _partition_counter())

        def output_task() -> Any:
            parent = tr.current()
            jr.run_output_task("summary", lambda: summary(parent))
            with tr.span("jobs.complete"):
                return jr.complete()

        def skip_rerun() -> list[Any]:
            again = JobRunner("bench", "ingest", make_store(tr, store_dir), max_errors=10**9)
            with tr.span("jobs.skip_rerun"):
                got = [
                    again.run_stream("ndjson_to_parquet", ndjson_df, sinks["ndjson"]),
                    again.run_stream("csv_to_parquet", csv_df, sinks["csv"]),
                    again.run_cmd("dedup_shards", dedup_shards),
                    again.run_stream_handler("partition_handler", ndjson_df, _partition_counter()),
                ]
                if not again.state.step_is_complete("summary"):
                    again.run_output_task("summary", lambda: summary(None))
                return got + [again.complete()]

        timed("ndjson_to_parquet", lambda: stream("ndjson_to_parquet", ndjson_df, sinks["ndjson"]))
        timed("csv_to_parquet", lambda: stream("csv_to_parquet", csv_df, sinks["csv"]))
        timed("dedup_shards", cmd)
        timed("partition_handler", handler)
        timed("output_task", output_task)
        timed("skip_rerun", skip_rerun, data_step=False)

        for step in steps:
            if step.ok:
                problem = self._check(step.name, results[step.name], out)
                if problem:
                    step.ok, step.error = False, problem
        self._layer_counts(ctx, out)
        shutil.rmtree(work, ignore_errors=True)
        return steps

    def _check(self, name: str, got: Any, out: dict[str, str]) -> str | None:
        truth = self.truth
        if name in ("ndjson_to_parquet", "csv_to_parquet"):
            kind = name.split("_")[0]
            files = truth.ndjson_files if kind == "ndjson" else truth.csv_files
            n_ok, n_err = truth.total(files, "ok"), truth.total(files, "err")
            want_inputs = {os.path.basename(f): truth.ok[f] + truth.err[f] for f in files}
            got_inputs = {os.path.basename(k): v for k, v in got.inputs.items()}
            written = _parquet_rows(out[kind])[0]
            if (got.status, got.num_errors, got.total_lines_scanned, written) != (
                "Complete", n_err, n_ok + n_err, n_ok
            ):
                return (
                    f"{name}: status={got.status} errors={got.num_errors}/{n_err} "
                    f"scanned={got.total_lines_scanned}/{n_ok + n_err} written={written}/{n_ok}"
                )
            if got_inputs != want_inputs:
                return f"{name}: per-file counts differ from the generator's"
            return None
        if name == "dedup_shards":
            written = _parquet_rows(out["shards"])[0]
            if got != truth.distinct_texts or written != truth.distinct_texts:
                return f"{name}: manifest={got} written={written} want={truth.distinct_texts}"
            return None
        if name == "partition_handler":
            if got.status != "Complete" or got.total_lines_scanned != truth.distinct_texts:
                return f"{name}: counted {got.total_lines_scanned}, want {truth.distinct_texts}"
            return None
        if name == "output_task":
            n_ok = truth.total(truth.ndjson_files, "ok")
            counted = sum(pq.read_table(out["summary"]).column("count").to_pylist())
            bad = [k for k, s in got.step_history.items() if s.status != "Complete"]
            if counted != n_ok or bad or got.run_status != "Completed":
                return f"{name}: summary counted {counted}/{n_ok}, incomplete steps {bad}"
            return None
        if name == "skip_rerun":
            *stepped, state = got
            bad = [k for k, s in state.step_history.items() if s.status != "Complete"]
            if any(r is not None for r in stepped) or bad or len(state.step_history) != 5:
                return f"{name}: re-run did not skip every step (incomplete: {bad})"
            return None
        return f"{name}: unknown step"

    def _layer_counts(self, ctx: Context, out: dict[str, str]) -> None:
        truth = self.truth
        ctx.count("sources.records_in", truth.records)
        ctx.count("sources.corrupt_records", sum(truth.err.values()))
        ctx.count("sources.files_in", len(truth.ok))
        for key in ("ndjson", "csv", "shards", "summary"):
            rows, size, files = _parquet_rows(out[key])
            ctx.count("sinks.rows_written", rows)
            ctx.count("sinks.bytes_written", size)
            ctx.count("sinks.files_written", files)


WORKLOADS = {
    "ingest_jobs": IngestJobs,
    "registry_sf0.01": lambda: RegistryMix(0.01, REGISTRY_ENTRIES),
}
