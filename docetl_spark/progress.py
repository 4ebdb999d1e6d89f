"""Structured pipeline progress: tracker + state model + plain console.

Reference parity: /root/reference/docetl/progress/events.py (OpState /
RunState dataclasses, JSON-serializable via to_dict) and
/root/reference/docetl/progress/tracker.py (thread-safe ProgressTracker
with pipeline_start / op_start / set_phase / tick / op_done /
pipeline_done / snapshot, plus the set_active_tracker module global its
RichLoopBar hooks read). The reference renders through `rich` and a
Textual TUI (console.py, tui/app.py); this repo renders the SAME state
model through a dependency-free plain-text table (``render_table``) —
the observability surface without the terminal stack, and the model
stays streamable (``RunState.to_dict``) exactly like the reference's
websocket path.

Spark note: ops here are DRIVER-side lifecycle events (an op = one
lowered OpSpec in plans/compiler.run_pipeline). A tracker only reports:
run_pipeline materializes every op's output and observes its row count
whether or not one is watching, and keeps a private tracker when none
is. Executor-side call/token accounting flows in through
resilience.BackendMetrics — pass
``metrics`` to ``op_done`` and the snapshot carries tokens/calls, the
Spark-native equivalent of the reference's per-call cost hooks
(api.py:588-734).
"""

from __future__ import annotations

import threading
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Literal

OpStatus = Literal["queued", "running", "done", "error"]


@dataclass
class OpState:
    """Live state for one pipeline operation (reference events.py)."""

    step: str
    name: str
    op_type: str
    model: str | None = None

    status: OpStatus = "queued"
    total: int | None = None
    phase: str | None = None
    completed: int = 0
    errors: int = 0
    out_count: int | None = None
    jobs: int | None = None  # Spark jobs the op launched

    calls: int = 0
    prompt_tokens: int = 0
    completion_tokens: int = 0

    start_t: float | None = None
    end_t: float | None = None

    @property
    def elapsed(self) -> float:
        if self.start_t is None:
            return 0.0
        return (self.end_t or time.time()) - self.start_t

    @property
    def tokens(self) -> int:
        return self.prompt_tokens + self.completion_tokens

    def to_dict(self) -> dict[str, Any]:
        return {
            "step": self.step, "name": self.name, "op_type": self.op_type,
            "model": self.model, "status": self.status, "total": self.total,
            "phase": self.phase, "completed": self.completed,
            "errors": self.errors, "out_count": self.out_count, "jobs": self.jobs,
            "calls": self.calls, "prompt_tokens": self.prompt_tokens,
            "completion_tokens": self.completion_tokens,
            "elapsed": round(self.elapsed, 3),
        }


@dataclass
class RunState:
    """Whole-run state (reference events.py RunState)."""

    run_id: str = ""
    started: bool = False
    finished: bool = False
    start_t: float | None = None
    end_t: float | None = None
    ops: list[OpState] = field(default_factory=list)
    _by_name: dict[str, OpState] = field(default_factory=dict)

    def register(self, op: OpState) -> None:
        self.ops.append(op)
        self._by_name[op.name] = op

    def get(self, name: str) -> OpState | None:
        return self._by_name.get(name)

    @property
    def elapsed(self) -> float:
        if self.start_t is None:
            return 0.0
        return (self.end_t or time.time()) - self.start_t

    def to_dict(self) -> dict[str, Any]:
        return {
            "run_id": self.run_id, "started": self.started,
            "finished": self.finished, "elapsed": round(self.elapsed, 3),
            "ops": [o.to_dict() for o in self.ops],
        }


class ProgressTracker:
    """Thread-safe structured progress (reference tracker.py).

    The compiler executes one op at a time (rows within an op are
    parallel — Spark tasks — but the lowered ops are sequential), so a
    single "current op" suffices and generic hooks can ``tick`` it
    without per-op plumbing; UIs poll :meth:`snapshot` on a timer.
    """

    def __init__(self) -> None:
        self._lock = threading.RLock()
        self.state = RunState(run_id=uuid.uuid4().hex[:8])
        self._current: OpState | None = None

    # -- lifecycle -------------------------------------------------------
    def pipeline_start(self, ops: list[tuple]) -> None:
        """Register all ops up front, in pipeline order:
        ``(step, name, op_type[, model])`` tuples."""
        with self._lock:
            self.state.ops.clear()
            self.state._by_name.clear()
            for info in ops:
                step, name, op_type = info[:3]
                model = info[3] if len(info) > 3 else None
                self.state.register(OpState(
                    step=step, name=name, op_type=op_type, model=model))
            self.state.started = True
            self.state.start_t = time.time()

    def op_start(self, name: str, op_type: str, *, step: str | None = None,
                 model: str | None = None, total: int | None = None) -> None:
        with self._lock:
            op = self.state.get(name)
            if op is None:
                # optimizer-injected op (rewrites/decompositions add ops
                # the plan didn't declare) — register on the fly, exactly
                # like the reference tracker
                op = OpState(step=step or name.split("/")[0], name=name,
                             op_type=op_type, model=model)
                self.state.register(op)
            op.op_type = op_type
            if model is not None:
                op.model = model
            op.total = total
            op.completed = 0
            op.errors = 0
            op.status = "running"
            op.start_t = time.time()
            self._current = op

    def set_phase(self, total: int | None, label: str | None = None) -> None:
        """Fresh sub-phase for the current op (cascade proxy/oracle,
        resolve embed/compare) — resets the numerator so the live bar
        matches what is actually ticking."""
        with self._lock:
            if self._current is None:
                return
            self._current.total = total
            self._current.phase = label
            self._current.completed = 0

    def tick(self, n: int = 1) -> None:
        with self._lock:
            if self._current is not None:
                self._current.completed += n

    def doc_error(self, n: int = 1) -> None:
        with self._lock:
            if self._current is not None:
                self._current.errors += n

    def op_done(self, name: str, *, out_count: int | None = None,
                status: OpStatus = "done", metrics=None) -> None:
        """``metrics``: a resilience.BackendMetrics — its snapshot DELTA
        since op_start would need caller bookkeeping, so we record the
        running totals; per-op deltas are the difference between
        consecutive ops' values (documented, JSON side carries both)."""
        with self._lock:
            op = self.state.get(name)
            if op is None:
                return
            op.status = status
            op.out_count = out_count
            op.end_t = time.time()
            if metrics is not None:
                snap = metrics.snapshot()
                op.calls = snap.get("calls", 0)
                op.prompt_tokens = snap.get("prompt_tokens", 0)
                op.completion_tokens = snap.get("completion_tokens", 0)
            if self._current is op:
                self._current = None

    def op_jobs(self, name: str, jobs: int) -> None:
        """Record the number of Spark jobs op ``name`` launched."""
        with self._lock:
            op = self.state.get(name)
            if op is not None:
                op.jobs = jobs

    def pipeline_done(self) -> None:
        with self._lock:
            self.state.finished = True
            self.state.end_t = time.time()

    def snapshot(self) -> RunState:
        with self._lock:
            return self.state


# -- module-global active tracker (reference tracker.py:221-227) --------
_ACTIVE: ProgressTracker | None = None
_ACTIVE_LOCK = threading.Lock()


def set_active_tracker(tracker: ProgressTracker | None) -> None:
    global _ACTIVE
    with _ACTIVE_LOCK:
        _ACTIVE = tracker


def active_tracker() -> ProgressTracker | None:
    return _ACTIVE


# -- plain-text rendering (the reference's console.py surface, no rich) --

def render_line(op: OpState) -> str:
    rows = f"{op.out_count:>9,}" if op.out_count is not None else " " * 9
    return (f"[{op.step}] {op.op_type:<13} {op.name:<24} "
            f"{op.status:<7} -> {rows} rows  {op.elapsed:6.2f}s")


def render_table(state: RunState) -> str:
    """Fixed-width summary table of the whole run — the final screen of
    the reference TUI, as plain text."""
    head = (f"run {state.run_id}  "
            f"{'finished' if state.finished else 'running'}  "
            f"{state.elapsed:.2f}s")
    cols = f"{'step':<12} {'op':<24} {'type':<13} {'status':<7} " \
           f"{'rows':>9} {'wall':>8} {'jobs':>5} {'calls':>7} {'tokens':>9}"
    lines = [head, cols, "-" * len(cols)]
    for op in state.ops:
        rows = f"{op.out_count:,}" if op.out_count is not None else "-"
        jobs = op.jobs if op.jobs is not None else "-"
        lines.append(
            f"{op.step:<12.12} {op.name:<24.24} {op.op_type:<13.13} "
            f"{op.status:<7} {rows:>9} {op.elapsed:>7.2f}s {jobs:>5} "
            f"{op.calls:>7} {op.tokens:>9}"
        )
    return "\n".join(lines)
