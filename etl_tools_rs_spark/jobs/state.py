"""JobState — the persisted job document.

Reference parity (etl-job/src/job/state.rs:1-408):
- ``settings`` KV store (state.rs:385-397) → ``set_state/get_state``;
- ``step_history: {name: {step_index, status, stats}}`` (state.rs:37-62);
- run status InProgress/FatalError/Completed (state.rs:10-20);
- state file named ``{id}.{name}.job.json`` (state.rs:399-407) — same
  contract here;
- completed-step check keyed by name AND step index: a step name found at a
  different index invalidates the cached completion (state.rs:87-123) —
  preserved exactly (SURVEY §4.3).

Stats shape mirrors StepStreamStatus (etl-job/src/job/stream.rs:6-32):
started/finished timestamps, total_lines_scanned, num_errors, per-input
file counts (stream.rs:266-308), outputs. ``duration_s`` (engine addition)
is the step's wall time from a monotonic clock, start to Complete/Error.
"""

from __future__ import annotations

import datetime as _dt
import time
from dataclasses import dataclass, field
from typing import Any

from etl_tools_rs_spark.sinks.simple_store import SimpleStore

RUN_IN_PROGRESS = "InProgress"
RUN_FATAL = "FatalError"
RUN_COMPLETED = "Completed"


def _now() -> str:
    return _dt.datetime.now(_dt.timezone.utc).isoformat()


@dataclass
class StepStatus:
    """One step's recorded outcome (StepStreamStatus / JobCommandStatus)."""

    name: str
    step_index: int
    kind: str = "stream"  # stream | command
    status: str = "InProgress"  # New | InProgress | Complete | Error
    started: str = field(default_factory=_now)
    finished: str | None = None
    total_lines_scanned: int = 0
    num_errors: int = 0
    inputs: dict[str, int] = field(default_factory=dict)  # per-source-file counts
    outputs: dict[str, int] = field(default_factory=dict)  # sink name → lines written
    error: str | None = None
    duration_s: float | None = None  # monotonic, start → Complete/Error

    def to_dict(self) -> dict[str, Any]:
        return dict(self.__dict__)

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> "StepStatus":
        return cls(**{k: d[k] for k in cls.__dataclass_fields__ if k in d})  # type: ignore[arg-type]


class JobState:
    """The job's persisted document + step bookkeeping."""

    def __init__(self, job_id: str, name: str):
        self.job_id = job_id
        self.name = name
        self.run_status = RUN_IN_PROGRESS
        self.settings: dict[str, Any] = {}
        self.step_history: dict[str, StepStatus] = {}
        self.cur_step_index = 0  # monotonically increasing (state.rs / SURVEY §4.3)
        self._started: dict[str, float] = {}  # step name → time.monotonic() at start

    # -- file contract ------------------------------------------------------
    @property
    def file_name(self) -> str:
        # reference contract: "{id}.{name}.job.json" (state.rs:399-407)
        return f"{self.job_id}.{self.name}.job.json"

    # -- settings KV (state.rs:385-397) ------------------------------------
    def set_state(self, key: str, value: Any) -> None:
        self.settings[key] = value

    def get_state(self, key: str, default: Any = None) -> Any:
        return self.settings.get(key, default)

    # -- step lifecycle -----------------------------------------------------
    def step_is_complete(self, name: str) -> bool:
        """Skip check: Complete AND recorded at the current step index
        (a name at a different index re-runs — state.rs:87-123)."""
        st = self.step_history.get(name)
        return (
            st is not None
            and st.status == "Complete"
            and st.step_index == self.cur_step_index
        )

    def start_step(self, name: str, kind: str = "stream") -> StepStatus:
        st = StepStatus(name=name, step_index=self.cur_step_index, kind=kind)
        self.step_history[name] = st
        self._started[name] = time.monotonic()
        return st

    def _finish(self, name: str, status: str) -> StepStatus:
        st = self.step_history[name]
        st.status = status
        st.finished = _now()
        t0 = self._started.pop(name, None)
        if t0 is not None:
            st.duration_s = time.monotonic() - t0
        self.cur_step_index += 1
        return st

    def complete_step(self, name: str) -> None:
        self._finish(name, "Complete")

    def error_step(self, name: str, message: str) -> None:
        self._finish(name, "Error").error = message

    def advance_skipped(self) -> None:
        """A skipped (already-complete) step still advances the index so
        subsequent steps line up with the recorded history."""
        self.cur_step_index += 1

    # -- persistence --------------------------------------------------------
    def to_dict(self) -> dict[str, Any]:
        return {
            "job_id": self.job_id,
            "name": self.name,
            "run_status": self.run_status,
            "settings": self.settings,
            "cur_step_index": self.cur_step_index,
            "step_history": {k: v.to_dict() for k, v in self.step_history.items()},
        }

    def save(self, store: SimpleStore) -> None:
        store.write(self.file_name, self.to_dict())

    @classmethod
    def load_or_new(cls, store: SimpleStore, job_id: str, name: str) -> "JobState":
        js = cls(job_id, name)
        if store.exists(js.file_name):
            d = store.load(js.file_name)
            js.run_status = d.get("run_status", RUN_IN_PROGRESS)
            js.settings = d.get("settings", {})
            js.step_history = {
                k: StepStatus.from_dict(v) for k, v in d.get("step_history", {}).items()
            }
            # a fresh run re-executes from step 0; completed steps are
            # skipped by the (name, index) check as the indices line up again
            js.cur_step_index = 0
            js.run_status = RUN_IN_PROGRESS
        return js
