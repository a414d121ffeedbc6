"""JobRunner integration tests — same shape as the reference's tokio tests
(SURVEY §5): run a pipeline, assert the recorded JobState counters."""

from __future__ import annotations

import pytest

from etl_tools_rs_spark.jobs.manager import JobManager
from etl_tools_rs_spark.jobs.runner import JobRunner, TooManyErrors
from etl_tools_rs_spark.jobs.state import RUN_COMPLETED, RUN_FATAL
from etl_tools_rs_spark.sinks.noop import NoopSink
from etl_tools_rs_spark.sinks.simple_store import MemoryStore
from etl_tools_rs_spark.sources.files import FileSource
from etl_tools_rs_spark.sources.memory import JsonLinesSource
from tests.conftest import F1_LINES

F1_SCHEMA = "name string, todo array<string>, id string"


def test_run_stream_counts_ndjson(spark, fixture_dir):
    # decoder_fs.rs:71-72 parity: 9 ok / 1 err recorded in job state
    store = MemoryStore()
    jr = JobRunner("j1", "decode_ndjson", store)
    df = FileSource(
        [str(fixture_dir / "10_lines.ndjson")],
        format="json",
        schema="index string, words string",
    ).to_df(spark)
    step = jr.run_stream("load", df, NoopSink())
    state = jr.complete()
    assert step.total_lines_scanned == 10
    assert step.num_errors == 1
    assert sum(step.outputs.values()) == 9
    assert state.run_status == RUN_COMPLETED
    # per-input-file accounting (stream.rs:266-308)
    assert len(step.inputs) == 1 and sum(step.inputs.values()) == 10
    # persisted document exists under the reference naming contract
    assert store.exists("j1.decode_ndjson.job.json")


def test_run_stream_skip_on_rerun(spark, fixture_dir):
    # O3: a Complete step is skipped on re-run (job.rs:331-338)
    store = MemoryStore()
    df = FileSource(
        [str(fixture_dir / "14_good_lines.csv")],
        format="csv",
        schema="index string, words string",
    ).to_df(spark)

    jr1 = JobRunner("j2", "csv_load", store)
    step1 = jr1.run_stream("load", df, NoopSink())
    jr1.complete()
    assert step1.total_lines_scanned == 14 and step1.num_errors == 0

    jr2 = JobRunner("j2", "csv_load", store)
    step2 = jr2.run_stream("load", df, NoopSink())
    assert step2 is None  # skipped
    # history retains the original completion
    assert jr2.state.step_history["load"].status == "Complete"


def test_error_budget_breach(spark):
    # simple-pipeline.rs:176-214 parity: errors > max_errors → TooManyErrors
    store = MemoryStore()
    jr = JobRunner("j3", "budget", store, max_errors=1)
    df = JsonLinesSource(F1_LINES, schema=F1_SCHEMA).to_df(spark)  # 3 ok / 2 err
    with pytest.raises(TooManyErrors):
        jr.run_stream("load", df, NoopSink())
    assert jr.state.run_status == RUN_FATAL
    assert jr.state.step_history["load"].status == "Error"


def test_error_budget_within(spark):
    # 3 ok / 2 err passes when the budget allows it (simple-pipeline.rs:61-63)
    store = MemoryStore()
    jr = JobRunner("j4", "budget_ok", store, max_errors=2)
    df = JsonLinesSource(F1_LINES, schema=F1_SCHEMA).to_df(spark)
    step = jr.run_stream("load", df, NoopSink())
    assert step.num_errors == 2
    assert sum(step.outputs.values()) == 3
    assert step.step_index == 0


def test_manager_global_budget(spark):
    # O5: JobManager broadcasts TooManyErrors fleet-wide
    # (job_manager.rs:82-90,216-228)
    store = MemoryStore()
    mgr = JobManager(max_errors=100)
    jr_a = JobRunner("jm", "job_a", store, max_errors=0, manager=mgr)
    JobRunner("jm", "job_b", store, manager=mgr)
    df = JsonLinesSource(F1_LINES, schema=F1_SCHEMA).to_df(spark)
    with pytest.raises(TooManyErrors):
        jr_a.run_stream("load", df, NoopSink())
    assert mgr.tripped
    assert len(mgr.runners) == 2


def test_run_stream_file_to_file(spark, fixture_dir, tmp_path):
    # P1 end-to-end: json file source → parquet sink, errors filtered,
    # written count recorded from the materialized sink
    from etl_tools_rs_spark.sinks.files import FileSink

    store = MemoryStore()
    jr = JobRunner("j6", "file2file", store)
    df = FileSource(
        [str(fixture_dir / "10_lines.ndjson")],
        format="json",
        schema="index string, words string",
    ).to_df(spark)
    out_path = str(tmp_path / "out")
    step = jr.run_stream("load", df, FileSink(out_path, format="parquet"))
    jr.complete()
    back = spark.read.parquet(out_path)
    assert back.count() == 9  # corrupt row did not reach the sink
    assert "_corrupt_record" not in back.columns
    assert "_source" not in back.columns  # engine columns stripped at the sink
    assert step.total_lines_scanned == 10 and step.num_errors == 1


def test_budget_breach_writes_nothing(spark, tmp_path):
    # the budget is checked on the accounting aggregate, before the sink
    # write: a breached step leaves no output behind
    from etl_tools_rs_spark.sinks.files import FileSink

    jr = JobRunner("j7", "breach", MemoryStore(), max_errors=1)
    df = JsonLinesSource(F1_LINES, schema=F1_SCHEMA).to_df(spark)  # 3 ok / 2 err
    out_path = tmp_path / "out"
    with pytest.raises(TooManyErrors):
        jr.run_stream("load", df, FileSink(str(out_path), format="parquet"))
    assert not out_path.exists()
    assert jr.state.step_history["load"].status == "Error"


def _write_lines(path, lines):
    path.write_text("".join(line + "\n" for line in lines))
    return str(path)


def test_run_stream_per_file_counts_with_all_corrupt_file(spark, tmp_path):
    good = _write_lines(
        tmp_path / "good.ndjson",
        [f'{{"index": "{i}", "words": "w{i}"}}' for i in range(4)]
        + ["not json at all"],
    )
    bad = _write_lines(tmp_path / "bad.ndjson", ["{broken", "also broken", "{{"])
    df = FileSource([good, bad], format="json", schema="index string, words string").to_df(spark)
    jr = JobRunner("j8", "two_files", MemoryStore())
    step = jr.run_stream("load", df, NoopSink())
    by_name = {k.rsplit("/", 1)[-1]: v for k, v in step.inputs.items()}
    assert by_name == {"good.ndjson": 5, "bad.ndjson": 3}
    assert step.num_errors == 1 + 3
    assert step.total_lines_scanned == 8
    assert sum(step.outputs.values()) == 4


@pytest.mark.parametrize("count_by_source", [True, False])
def test_run_stream_empty_input_zero_counts(spark, tmp_path, count_by_source):
    empty = _write_lines(tmp_path / "empty.ndjson", [])
    df = FileSource([empty], format="json", schema="index string, words string").to_df(spark)
    jr = JobRunner("j9", "empty", MemoryStore())
    step = jr.run_stream("load", df, NoopSink(), count_by_source=count_by_source)
    assert (step.total_lines_scanned, step.num_errors, step.inputs) == (0, 0, {})
    assert sum(step.outputs.values()) == 0
    assert step.status == "Complete"


def test_run_stream_without_per_file_counts(spark, fixture_dir):
    df = FileSource(
        [str(fixture_dir / "10_lines.ndjson")],
        format="json",
        schema="index string, words string",
    ).to_df(spark)
    jr = JobRunner("j10", "global", MemoryStore())
    step = jr.run_stream("load", df, NoopSink(), count_by_source=False)
    assert step.inputs == {}
    assert (step.total_lines_scanned, step.num_errors) == (10, 1)
    assert sum(step.outputs.values()) == 9


def test_run_stream_spark_job_count(spark, fixture_dir, tmp_path):
    # job-count pin: a FileSource → FileSink step runs the accounting
    # aggregate (2 jobs: its shuffle map stage, then the result stage)
    # plus the write (2 jobs) and nothing else
    from etl_tools_rs_spark.sinks.files import FileSink

    df = FileSource(
        [str(fixture_dir / "10_lines.ndjson")],
        format="json",
        schema="index string, words string",
    ).to_df(spark)
    jr = JobRunner("j11", "jobs", MemoryStore())
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup())
    jr.run_stream("load", df, FileSink(str(tmp_path / "out"), format="parquet"))
    assert len(set(st.getJobIdsForGroup()) - before) == 4
