"""JobState persistence + step-history semantics (reference
job-state.rs / job-state-custom.rs, state.rs:87-123,385-407)."""

from __future__ import annotations

from etl_tools_rs_spark.jobs.state import JobState, StepStatus
from etl_tools_rs_spark.sinks.simple_store import MemoryStore, SimpleStore


def test_settings_roundtrip():
    # job-state.rs:81-91: settings KV survives completion + reload
    store = MemoryStore()
    js = JobState("id1", "statejob")
    js.set_state("offset", {"offset": 3})
    js.save(store)

    js2 = JobState.load_or_new(store, "id1", "statejob")
    assert js2.get_state("offset") == {"offset": 3}
    assert js2.get_state("missing", "default") == "default"


def test_file_naming_contract():
    js = JobState("myid", "myname")
    assert js.file_name == "myid.myname.job.json"


def test_step_index_invalidates_completion():
    # state.rs:87-123: a completed step name found at a DIFFERENT index
    # does not count as complete — it re-runs
    js = JobState("id2", "idx")
    js.start_step("a")
    js.complete_step("a")  # recorded at index 0, cur_step_index → 1
    assert not js.step_is_complete("a")  # now at index 1 → stale
    js.cur_step_index = 0
    assert js.step_is_complete("a")


def test_step_history_roundtrip():
    store = MemoryStore()
    js = JobState("id3", "hist")
    st = js.start_step("load", "stream")
    st.total_lines_scanned = 10
    st.num_errors = 1
    st.inputs["file:///x.ndjson"] = 10
    st.outputs["noop"] = 9
    js.complete_step("load")
    js.save(store)

    js2 = JobState.load_or_new(store, "id3", "hist")
    st2 = js2.step_history["load"]
    assert st2.status == "Complete"
    assert st2.total_lines_scanned == 10 and st2.num_errors == 1
    assert st2.inputs == {"file:///x.ndjson": 10}
    assert st2.finished is not None
    # reload resets the cursor: completed step at index 0 skips again
    assert js2.cur_step_index == 0
    assert js2.step_is_complete("load")


def test_local_fs_store_atomic(tmp_path):
    store = SimpleStore(str(tmp_path))
    store.write("doc.json", {"a": [1, 2, 3]})
    assert store.exists("doc.json")
    assert store.load("doc.json") == {"a": [1, 2, 3]}
    store.delete("doc.json")
    assert not store.exists("doc.json")


def test_step_status_from_dict_ignores_unknown():
    st = StepStatus.from_dict({"name": "x", "step_index": 2, "future_field": 1})
    assert st.name == "x" and st.step_index == 2


def test_step_duration_recorded_and_persisted():
    store = MemoryStore()
    js = JobState("id4", "dur")
    js.start_step("ok")
    js.complete_step("ok")
    js.start_step("bad")
    js.error_step("bad", "boom")
    for name in ("ok", "bad"):
        d = js.step_history[name].duration_s
        assert d is not None and 0 <= d < 60
    js.save(store)
    js2 = JobState.load_or_new(store, "id4", "dur")
    assert js2.step_history["ok"].duration_s == js.step_history["ok"].duration_s


def test_old_document_without_duration_loads():
    store = MemoryStore()
    store.write(
        "id5.old.job.json",
        {
            "run_status": "Completed",
            "step_history": {
                "load": {"name": "load", "step_index": 0, "status": "Complete",
                         "total_lines_scanned": 3}
            },
        },
    )
    st = JobState.load_or_new(store, "id5", "old").step_history["load"]
    assert st.duration_s is None and st.total_lines_scanned == 3
