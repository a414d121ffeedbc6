"""JobRunner — sequential step executor around Spark actions.

Reference parity (etl-job/src/job.rs:27-643):
- ``run_stream(name, source, sink)`` — the canonical pipeline step with
  ok/err accounting and skip-if-complete (job.rs:318-412);
- ``run_stream_handler(name, df, handler)`` — custom per-record consumer
  with Start/Skip/Resume{index} init and shutdown hooks (job.rs:457-602);
- ``run_cmd(name, fn)`` — arbitrary side-effect command step
  (job.rs:606-643);
- ``run_output_task`` — detached parallel pipelines awaited at ``complete``
  (job.rs:433-451, job.rs:280-314);
- ``max_errors`` budget → TooManyErrors (job.rs:44-46,258-263,694-695);
- per-input-file accounting (stream.rs:266-308) via ``_source`` groupBy.

Engine semantics (clean, per SURVEY §7.4): ok = parsed rows, err = corrupt
rows; stats finalize only after the sink action returns (§4.3). The pump
loop / channels collapse into two Spark actions per ``run_stream`` step:
one accounting aggregate over the cached, parsed frame (ok/err and
per-file counts, then the error-budget check), then the sink write.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_tools_rs_spark.session import is_connect

from etl_tools_rs_spark.jobs.state import (
    RUN_COMPLETED,
    RUN_FATAL,
    JobState,
    StepStatus,
)
from etl_tools_rs_spark.sinks.simple_store import SimpleStore
from etl_tools_rs_spark.sources.files import (
    SOURCE_COL,
    error_markers,
    is_error_row,
    split_ok_err,
)


class JobRunnerError(Exception):
    pass


class TooManyErrors(JobRunnerError):
    """Error budget breached (reference JobRunnerError::TooManyErrors,
    job.rs:694-695)."""


class JobStepError(JobRunnerError):
    """A command step failed fatally (reference JobStepError)."""


@dataclass
class HandlerInit:
    """StreamHandler::init outcome (job.rs:674-682)."""

    action: str = "start"  # start | skip | resume
    index: int = 0

    @classmethod
    def start(cls) -> "HandlerInit":
        return cls("start")

    @classmethod
    def skip(cls) -> "HandlerInit":
        return cls("skip")

    @classmethod
    def resume(cls, index: int) -> "HandlerInit":
        return cls("resume", index)


class StreamHandler:
    """User hook: init/process_item/shutdown (etl-job/src/job/handler.rs:14-31).

    Two consumption modes:

    - ``process_partition(rows)`` — the SCALABLE path. Override it and the
      runner ships the handler to executors via ``DataFrame.foreachPartition``;
      each task receives an iterator of Rows for one partition, so the handler
      can open one connection/file per partition (the reference handler's
      typical use, handler.rs:14-31) without any driver round-trip. The
      handler instance is pickled into the task closure: executor-side
      mutations do NOT propagate back to the driver object — report per-row
      outcomes by returning ``(n_ok, n_err)`` (counted into step stats and
      the error budget via accumulators) or ``None`` (all rows counted ok).
    - ``process_item(index, row, runner)`` — the driver-side ordered loop,
      kept for Resume{index} semantics and handlers that must mutate
      driver state per row. It is a deliberate driver bottleneck; only use
      it when ordering/resume genuinely matters.

    The runner picks ``process_partition`` whenever it is overridden, init
    returned Start, and no ``order_by`` was requested; otherwise it falls
    back to the ordered driver loop."""

    def init(self, runner: "JobRunner") -> HandlerInit:
        return HandlerInit.start()

    def process_item(self, index: int, item: Row, runner: "JobRunner") -> None:
        raise NotImplementedError

    def process_partition(self, rows: "Any") -> "tuple[int, int] | None":
        raise NotImplementedError

    def shutdown(self, runner: "JobRunner") -> None:
        pass

    def has_partition_path(self) -> bool:
        """True when the subclass overrides ``process_partition``."""
        return type(self).process_partition is not StreamHandler.process_partition


class JobRunner:
    def __init__(
        self,
        job_id: str,
        name: str,
        store: SimpleStore,
        max_errors: int = 1000,
        stop_on_error: bool = True,
        manager: "Any | None" = None,
    ):
        self.store = store
        self.max_errors = max_errors
        self.stop_on_error = stop_on_error
        self.manager = manager
        self.state = JobState.load_or_new(store, job_id, name)
        self.num_errors = 0
        self._output_tasks: list[tuple[str, Future]] = []
        self._pool: ThreadPoolExecutor | None = None
        if manager is not None:
            manager.register(self)

    # -- internals ----------------------------------------------------------
    def _save(self) -> None:
        self.state.save(self.store)

    def _check_budget(self, step: StepStatus) -> None:
        if self.num_errors > self.max_errors:
            self.state.error_step(step.name, "TooManyErrors")
            self.state.run_status = RUN_FATAL
            self._save()
            if self.manager is not None:
                self.manager.broadcast_too_many_errors(self)
            raise TooManyErrors(
                f"{self.state.name}: {self.num_errors} errors > budget {self.max_errors}"
            )

    def _skip_or_start(self, name: str, kind: str) -> StepStatus | None:
        if self.state.step_is_complete(name):
            # idempotent re-run: completed step skipped (job.rs:331-338)
            self.state.advance_skipped()
            self._save()
            return None
        step = self.state.start_step(name, kind)
        self._save()
        return step

    # -- run_stream (job.rs:318-412) ----------------------------------------
    def run_stream(
        self,
        name: str,
        df: DataFrame,
        sink: Any,
        count_by_source: bool = True,
    ) -> StepStatus | None:
        """Source→sink step: count ok/corrupt rows, enforce the error
        budget, write ok rows, record per-file + total stats, mark Complete.

        Two Spark actions. The accounting action is one aggregate over the
        cached, parsed frame: ``count(*)`` and the error count per
        ``_source`` file (one global row when ``count_by_source`` is off or
        the frame has no ``_source``). The budget is checked on its result,
        so a breach raises before the sink writes anything. The sink write
        then reads the cache. Stats finalize after the write returns
        (sink-acknowledged, SURVEY §4.3)."""
        step = self._skip_or_start(name, "stream")
        if step is None:
            return None
        # cache the PARSED frame: (a) the accounting aggregate and the sink
        # write reuse one scan+parse; (b) Spark disallows a query that
        # reads only the corrupt column straight off a raw file scan
        # (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the cache boundary is the
        # documented remedy
        df = df.cache()
        ok, _ = split_ok_err(df)
        by_source = count_by_source and SOURCE_COL in df.columns
        try:
            counts = (
                (df.groupBy(SOURCE_COL) if by_source else df.groupBy())
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.count_if(is_error_row(df)).alias("n_err"),
                )
                .collect()
            )
            n_err = sum(r["n_err"] for r in counts)
            self.num_errors += n_err
            step.num_errors = n_err
            self._check_budget(step)
            if by_source:
                step.inputs = {r[SOURCE_COL]: r["n"] for r in counts}
            step.total_lines_scanned = sum(r["n"] for r in counts)
            n_ok = step.total_lines_scanned - n_err
            out_df = ok.drop(SOURCE_COL)
            result = sink.write(out_df)
            written = result if isinstance(result, int) and result >= 0 else n_ok
            step.outputs[getattr(sink, "path", type(sink).__name__)] = written
            self.state.complete_step(name)
            self._save()
            return step
        except JobRunnerError:
            raise
        except Exception as e:
            self.state.error_step(name, str(e))
            self.state.run_status = RUN_FATAL
            self._save()
            raise
        finally:
            df.unpersist()

    # -- run_stream_handler (job.rs:457-602) --------------------------------
    def run_stream_handler(
        self,
        name: str,
        df: DataFrame,
        handler: StreamHandler,
        order_by: list[str] | None = None,
    ) -> StepStatus | None:
        """Custom consumer with resume semantics.

        Resume contract: the reference relies on stable source order
        (job.rs:677-679); the engine makes that explicit — ``order_by``
        defines the deterministic ordering that ``Resume{index}`` filters
        against via row_number (SURVEY §7.3). Without order_by, resume is
        refused (no deterministic order exists in a distributed scan).

        Execution path: when the handler overrides ``process_partition``,
        init returned Start, and no ``order_by`` is requested, the handler
        runs ON EXECUTORS via ``foreachPartition`` (ok/err counts flow back
        through accumulators — one Spark action, no per-row driver
        traffic). Otherwise the ordered driver loop over ``process_item``
        runs (required for Resume, which needs a global row_number)."""
        step = self._skip_or_start(name, "stream")
        if step is None:
            return None
        init = handler.init(self)
        if init.action == "skip":
            self.state.complete_step(name)
            self._save()
            return self.state.step_history[name]
        work = df
        if init.action == "resume":
            if not order_by:
                raise JobRunnerError("resume requires order_by for deterministic order")
            w = Window.orderBy(*order_by)
            work = (
                df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") > init.index)
                .drop("_rn")
            )
        try:
            work = work.cache()  # same corrupt-column caveat as run_stream
            ok, err = split_ok_err(work)
            # no marker column → split_ok_err's err side is empty by
            # construction; counting it would still launch a Spark job
            n_err = err.count() if error_markers(work) else 0
            self.num_errors += n_err
            step.num_errors = n_err
            self._check_budget(step)
            partition_mode = (
                handler.has_partition_path()
                and init.action == "start"
                and order_by is None
            )
            if partition_mode and not is_connect(ok.sparkSession):
                n_ok = self._run_partition_handler(ok, handler, step)
            elif partition_mode:
                # Spark Connect (r4 audit): no sparkContext / classic
                # accumulators for the executor path — run the SAME
                # process_partition contract driver-side as one pseudo-
                # partition over toLocalIterator, with a loud warning
                # (ordered-loop handlers are unaffected; partition-only
                # handlers keep working instead of dying on sparkContext)
                import warnings

                warnings.warn(
                    "Spark Connect session: process_partition runs "
                    "driver-side as a single pseudo-partition (no "
                    "foreachPartition accumulators on Connect)",
                    RuntimeWarning,
                    stacklevel=2,
                )
                res = handler.process_partition(ok.toLocalIterator())
                if res is not None:
                    n_ok, extra_err = int(res[0]), int(res[1])
                    if extra_err:
                        self.num_errors += extra_err
                        step.num_errors += extra_err
                        self._check_budget(step)
                else:
                    n_ok = ok.count()
            else:
                rows = (
                    ok.toLocalIterator()
                    if order_by is None
                    else ok.orderBy(*order_by).toLocalIterator()
                )
                n_ok = 0
                base = init.index if init.action == "resume" else 0
                for i, row in enumerate(rows):
                    try:
                        handler.process_item(base + i, row, self)
                        n_ok += 1
                    except Exception:
                        self.num_errors += 1
                        step.num_errors += 1
                        self._check_budget(step)
            step.total_lines_scanned = n_ok + step.num_errors
            handler.shutdown(self)
            self.state.complete_step(name)
            self._save()
            return step
        except JobRunnerError:
            raise
        except Exception as e:
            self.state.error_step(name, str(e))
            self.state.run_status = RUN_FATAL
            self._save()
            raise
        finally:
            work.unpersist()

    def _run_partition_handler(
        self, ok: DataFrame, handler: StreamHandler, step: StepStatus
    ) -> int:
        """Executor-side dispatch: one ``foreachPartition`` action runs
        ``handler.process_partition`` per task; ok/err counts flow back via
        accumulators (classic-mode; under Spark Connect the driver loop is
        the fallback). A handler that returns ``None`` reports no counts,
        so ok falls back to one ``count()`` on the cached frame."""
        sc = ok.sparkSession.sparkContext
        ok_acc = sc.accumulator(0)
        err_acc = sc.accumulator(0)
        silent_acc = sc.accumulator(0)  # partitions that returned None

        def _part(rows: Any) -> None:
            res = handler.process_partition(rows)
            if res is not None:
                n_ok, n_err = res
                ok_acc.add(int(n_ok))
                err_acc.add(int(n_err))
            else:
                silent_acc.add(1)
                # drain so lazy handlers that merely yield still consume
                for _ in rows:
                    pass

        ok.foreachPartition(_part)
        n_err = err_acc.value
        if n_err:
            self.num_errors += n_err
            step.num_errors += n_err
            self._check_budget(step)
        if silent_acc.value == 0:
            return ok_acc.value
        # some partitions reported no counts → books incomplete; one count()
        # on the cached frame closes them (cache hit, no rescan)
        return ok.count() - n_err

    def run_stream_handler_fn(
        self, name: str, df: DataFrame, fn: Callable[[int, Row, "JobRunner"], None]
    ) -> StepStatus | None:
        """Closure form (job.rs:414-430)."""

        runner = self

        class _H(StreamHandler):
            def process_item(self, index: int, item: Row, r: "JobRunner") -> None:
                fn(index, item, runner)

        return self.run_stream_handler(name, df, _H())

    # -- run_cmd (job.rs:606-643) -------------------------------------------
    def run_cmd(
        self,
        name: str,
        fn: Callable[["JobRunner"], Any],
        retries: int = 0,
        backoff_s: float = 0.1,
        backoff_cap_s: float = 10.0,
        retry_on: type[Exception] | tuple[type[Exception], ...] = Exception,
        sleep: Callable[[float], None] | None = None,
    ) -> Any:
        """Command step: arbitrary side effect (DDL/cleanup/spark.sql),
        recorded in step history with timestamps; subsumes the reference's
        AthenaQueryJobCommand (athena.rs:47-156) since ``spark.sql`` runs
        inline.

        ``retries`` re-runs the callable on ``retry_on`` exceptions with
        exponential backoff doubling from ``backoff_s`` up to
        ``backoff_cap_s`` — the reference's transient-failure policy
        (100-retry exp backoff on S3 503s, s3_datastore.rs:422-448)
        generalized to any step. Only the FINAL failure reaches the step
        history / error budget; a step that succeeds on retry is simply
        Complete. ``sleep`` is injectable for tests."""
        import time as _time

        step = self._skip_or_start(name, "command")
        if step is None:
            return None
        do_sleep = sleep if sleep is not None else _time.sleep
        attempt = 0
        while True:
            try:
                result = fn(self)
                self.state.complete_step(name)
                self._save()
                return result
            except retry_on as e:
                if attempt < retries:
                    do_sleep(min(backoff_s * (2**attempt), backoff_cap_s))
                    attempt += 1
                    continue
                self.state.error_step(name, str(e))
                if self.stop_on_error:
                    self.state.run_status = RUN_FATAL
                    self._save()
                    raise JobStepError(f"step {name!r}: {e}") from e
                self._save()
                return None
            except Exception as e:
                self.state.error_step(name, str(e))
                if self.stop_on_error:
                    self.state.run_status = RUN_FATAL
                    self._save()
                    raise JobStepError(f"step {name!r}: {e}") from e
                self._save()
                return None

    # -- parallel output tasks (job.rs:433-451, awaited :280-314) ------------
    def run_output_task(self, name: str, fn: Callable[[], Any]) -> Future:
        """Detached task running concurrently with subsequent steps; Spark's
        scheduler is thread-safe, so concurrent actions interleave. Awaited
        (and stats-recorded) at ``complete()``."""
        if self._pool is None:
            self._pool = ThreadPoolExecutor(max_workers=8, thread_name_prefix="output-task")
        fut = self._pool.submit(fn)
        self._output_tasks.append((name, fut))
        return fut

    # -- complete (job.rs:280-314) ------------------------------------------
    def complete(self) -> JobState:
        errors: list[str] = []
        for name, fut in self._output_tasks:
            try:
                result = fut.result()
                st = StepStatus(name=name, step_index=self.state.cur_step_index, kind="output_task")
                st.status = "Complete"
                if isinstance(result, int):
                    st.outputs[name] = result
                self.state.step_history[name] = st
            except Exception as e:  # noqa: BLE001 — recorded, not raised mid-await
                errors.append(f"{name}: {e}")
        if self._pool is not None:
            self._pool.shutdown(wait=True)
        if errors:
            self.state.run_status = RUN_FATAL
            self._save()
            raise JobStepError("; ".join(errors))
        self.state.run_status = RUN_COMPLETED
        self._save()
        if self.manager is not None:
            self.manager.finish(self)
        return self.state
