"""Tests of the benchmark's own parts: generators, spans, event-log parser.

Run from the repository root:

    python3 -m pytest perfbench -q -m "not slow"   # fast tests
    python3 -m pytest perfbench -q -m slow         # two traced runs, compared
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import Counter

import pyarrow.parquet as pq
import pytest

from perfbench import datagen, eventlog
from perfbench.trace import Span, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _event_log(path: str) -> None:
    """Two jobs in group g1 (the second reuses the first's shuffle stage),
    one job in g2, one job without a group."""

    def task(stage, launch, finish, run, cpu_ns, records=0, shuffle_w=0, failed=False):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish,
                          "Getting Result Time": 0, "Failed": failed},
            "Task Metrics": {
                "Executor Run Time": run, "Executor CPU Time": cpu_ns,
                "Executor Deserialize Time": 1, "Result Serialization Time": 1,
                "Input Metrics": {"Records Read": records},
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 7},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
                "Disk Bytes Spilled": 0,
            },
        }

    def job(jid, stages, group, execution):
        props = {"spark.sql.execution.id": execution}
        if group:
            props["spark.jobGroup.id"] = group
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Stage IDs": stages,
                "Submission Time": 1000 * (jid + 1), "Properties": props}

    def submitted(sid):
        return {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": sid}}

    def end(jid):
        return {"Event": "SparkListenerJobEnd", "Job ID": jid}

    events = [
        {"Event": "SparkListenerApplicationStart"},
        job(0, [0], "g1", "1"), submitted(0),
        task(0, 100, 130, 20, 15_000_000, records=50, shuffle_w=300),
        task(0, 100, 125, 20, 10_000_000, records=50, shuffle_w=200), end(0),
        job(1, [0, 1], "g1", "1"), submitted(1),
        task(1, 200, 210, 5, 4_000_000), end(1),
        job(2, [2], "g2", "2"), submitted(2),
        task(2, 300, 320, 10, 9_000_000, failed=True), end(2),
        job(3, [3], None, "3"), submitted(3),
        task(3, 400, 401, 1, 1_000_000),  # no JobEnd: a log cut short
    ]
    with open(path, "w", encoding="utf-8") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")


def test_eventlog_counters(tmp_path):
    _event_log(str(tmp_path / "local-1"))
    got, first = eventlog.parse_dir(str(tmp_path))
    assert first == {"g1": 1000, "g2": 3000, eventlog.NO_GROUP: 4000}
    g1 = got["g1"]
    assert (g1["jobs"], g1["sql_executions"], g1["stages"], g1["stages_skipped"]) == (2, 1, 2, 1)
    assert (g1["tasks"], g1["input_records"], g1["shuffle_write_bytes"]) == (3, 100, 500)
    assert g1["shuffle_read_bytes"] == 21
    assert g1["executor_cpu_ms"] == 29 and g1["executor_run_ms"] == 45
    # duration minus run, deserialize and serialize time, per task
    assert g1["scheduler_delay_ms"] == (30 - 22) + (25 - 22) + (10 - 7)
    assert got["g2"]["failed_tasks"] == 1 and got["g1"]["failed_tasks"] == 0
    assert got[eventlog.NO_GROUP]["jobs"] == 1
    assert eventlog.total([got["g1"], got["g2"]])["tasks"] == 4


def test_eventlog_parse_is_repeatable(tmp_path):
    _event_log(str(tmp_path / "local-1"))
    assert eventlog.parse_dir(str(tmp_path)) == eventlog.parse_dir(str(tmp_path))


def test_self_time_subtracts_union_of_children():
    tr = Tracer("r", enabled=True)
    tr.spans = [
        Span("a", "parent", None, 0.0, 10.0),
        Span("b", "child", "a", 1.0, 4.0),
        Span("c", "child", "a", 3.0, 5.0),  # overlaps b
        Span("d", "child", "a", 8.0, 12.0),  # runs past the parent
        Span("e", "grandchild", "b", 1.5, 2.0),
    ]
    assert tr.self_time(tr.spans[0]) == pytest.approx(10.0 - 4.0 - 2.0)
    assert {s.id for s in tr.subtree(tr.spans[0])} == {"a", "b", "c", "d", "e"}


def test_disabled_tracer_records_nothing():
    tr = Tracer("r", enabled=False)
    with tr.span("x") as s:
        assert s is None
    assert tr.spans == [] and tr.current() is None


def test_innermost_open_span():
    tr = Tracer("r", enabled=True)
    tr.spans = [
        Span("a", "pass", None, 0, 0, wall_start=100.0, wall_end=110.0),
        Span("b", "step", "a", 0, 0, wall_start=101.0, wall_end=105.0),
    ]
    assert tr.innermost_at(102.0).id == "b"
    assert tr.innermost_at(106.0).id == "a"
    assert tr.innermost_at(111.0) is None


def test_ingest_generator_is_seeded_and_truthful(tmp_path):
    a = datagen.write_ingest_files(str(tmp_path / "a"), 5, 2_000, 1_000)
    b = datagen.write_ingest_files(str(tmp_path / "b"), 5, 2_000, 1_000)
    c = datagen.write_ingest_files(str(tmp_path / "c"), 6, 2_000, 1_000)
    for fa, fb in zip(a.ndjson_files + a.csv_files, b.ndjson_files + b.csv_files):
        assert open(fa, "rb").read() == open(fb, "rb").read()
    assert open(a.ndjson_files[0], "rb").read() != open(c.ndjson_files[0], "rb").read()
    assert a.records == 3_000 == c.records
    sizes = sorted(a.ok[f] + a.err[f] for f in a.ndjson_files)
    assert sizes[-1] > 3 * sizes[0]  # skewed file sizes
    # recount the ground truth from the files themselves
    ok = err = 0
    texts = set()
    for f in a.ndjson_files:
        for line in open(f, encoding="utf-8"):
            try:
                texts.add(json.loads(line)["text"].lower())
                ok += 1
            except json.JSONDecodeError:
                err += 1
    for f in a.csv_files:
        for line in list(open(f, encoding="utf-8"))[1:]:
            rid, text = line.split(",")[:2]
            if rid.isdigit():
                ok += 1
                texts.add(text.lower())
            else:
                err += 1
    assert (ok, err) == (sum(a.ok.values()), sum(a.err.values()))
    assert 0 < err < 0.03 * a.records
    assert len(texts) == a.distinct_texts < ok


def test_table_generator_is_seeded(tmp_path):
    rows = datagen.write_tables(str(tmp_path / "a"), 3, 0.001)
    datagen.write_tables(str(tmp_path / "b"), 3, 0.001)
    for name, n in rows.items():
        ta = pq.read_table(str(tmp_path / "a" / f"{name}.parquet"))
        tb = pq.read_table(str(tmp_path / "b" / f"{name}.parquet"))
        assert ta.num_rows == n and ta.equals(tb)


def test_documents_hold_near_duplicate_chains(tmp_path):
    """The checked pass compares ``dedup_groups_lsh`` with this oracle, so
    on the generated documents it must find groups, some beyond a pair."""
    import duckdb

    from etl_tools_rs_spark.queries import REGISTRY

    datagen.write_tables(str(tmp_path), 7, 0.01)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{tmp_path / 'documents.parquet'}')")
    rows = con.execute(REGISTRY["dedup_groups_lsh"].oracle).fetchall()
    sizes = Counter(group for _, group in rows)
    assert rows and max(sizes.values()) > 2


def _run_bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600,
    )


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run_bench(str(tmp_path), "--workload", "ingest_jobs", "--seed", "1",
                     "--seconds", "1", "--trace", "0")
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout


# Counters that do not depend on timing; they must repeat exactly.
_DETERMINISTIC = (".spark_jobs", ".shuffle_write_bytes", "spark.jobs", "spark.stages",
                  "spark.stages_skipped", "spark.tasks", "spark.shuffle_read_bytes",
                  "spark.input_records", "jobs.state_saves", "sinks.rows_written",
                  "sources.records_in", "jobs.run_stream.actions_per_write")


@pytest.mark.slow
@pytest.mark.parametrize("workload", ["ingest_jobs", "registry_sf0.01"])
def test_two_traced_runs_give_identical_counters(workload):
    results = []
    for _ in range(2):
        out = _run_bench(ROOT, "--workload", workload, "--seed", "7",
                         "--seconds", "1", "--trace", "1")
        assert out.returncode == 0, out.stderr[-2000:]
        result = json.loads(out.stdout.strip().splitlines()[-1])
        assert result["correct"] and result["failed"] == 0
        results.append({
            k: v["value"] for k, v in result["metrics"].items()
            if k.endswith(_DETERMINISTIC) or k in _DETERMINISTIC
        })
    assert results[0] == results[1]
    assert results[0]["spark.jobs"] > 0
