"""Outside-in measurement: spans, Spark counters and process memory.

Everything here observes the engine from the benchmark's side of its
public calls. ``Tracer`` keeps spans in memory and writes them when the
run ends; the other helpers read counters Spark already keeps (SQL
metrics from the SQL status store, the job/stage status tracker,
streaming progress) and the RSS of the driver JVM and its Python
workers.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections import Counter
from contextlib import contextmanager

# SQL metric display name -> per-layer counter
SQL_METRICS = {
    "number of files read": "sources.files_read",
    "size of files read": "sources.scan_bytes",
    "scan time": "sources.scan_s",
    "shuffle bytes written": "exchange.shuffle_bytes",
    "shuffle records written": "exchange.shuffle_records",
    "spill size": "exchange.spill_bytes",
    "data sent to Python workers": "python_udf.bytes_sent",
    "data returned from Python workers": "python_udf.bytes_returned",
    "time to run Python workers": "python_udf.run_s",
    "time to start Python workers": "python_udf.start_s",
}
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ns": 1e-9, "ms": 1e-3, "s": 1, "m": 60, "h": 3600}
_LABEL = re.compile(r'label="(.*?)" tooltip=')
_TOTAL = " total (min, med, max (stageId: taskId))"
RSS_INTERVAL_S = 0.5


def parse_metric(text: str) -> float:
    """'6,000' -> 6000; '114.5 KiB' -> bytes; '1.8 s' / '235 ms' -> seconds;
    'total (...)' forms -> their total."""
    num, _, unit = text.split(" (")[0].strip().partition(" ")
    return float(num.replace(",", "")) * _UNITS.get(unit, 1)


def node_metrics(dot: str):
    """(node name, metric name, value) for every metric in a plan graph
    rendered by SparkPlanGraph.makeDotFile."""
    for label in _LABEL.findall(dot):
        parts = label.split("<br>")
        node = next((p[3:-4] for p in parts if p.startswith("<b>")), "")
        for k, part in enumerate(parts):
            if part.endswith(_TOTAL) and k + 1 < len(parts):
                yield node, part[: -len(_TOTAL)], parse_metric(parts[k + 1])
            elif ": " in part and not part.startswith("("):
                name, _, value = part.partition(": ")
                if value and value[0].isdigit():
                    yield node, name, parse_metric(value)


class SqlCursor:
    """SQL metrics of every query execution since the last ``take()``:
    the benchmark's actions, eager jobs inside builders and streaming
    micro-batches alike, read from the SQL status store."""

    def __init__(self, spark):
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.next_id = 0
        self.skip()

    def skip(self) -> None:
        execs = self.store.executionsList()
        self.next_id = execs.last().executionId() + 1 if execs.nonEmpty() else 0

    def take(self) -> Counter:
        out = Counter()
        while self.store.execution(self.next_id).isDefined():
            eid = self.next_id
            self.next_id += 1
            dot = self.store.planGraph(eid).makeDotFile(self.store.executionMetrics(eid))
            python_nodes = set()
            for node, name, value in node_metrics(dot):
                key = SQL_METRICS.get(name)
                if key:
                    out[key] += value
                if key == "python_udf.bytes_sent":
                    python_nodes.add(node)
            for node, name, value in node_metrics(dot):
                if node in python_nodes and name == "number of output rows":
                    out["python_udf.rows"] += value
        return out


class Tracer:
    """In-memory spans: name, start, end, parent and run id. Disabled
    tracers record nothing, so untraced passes pay one branch per call."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        self.spans.append({"run": self.run_id, "id": sid, "name": name,
                           "parent": self._stack[-1] if self._stack else None,
                           "start": time.perf_counter(), "end": None})
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: str) -> None:
        """A span measured elsewhere (a ProgressTracker op), placed under
        the latest span called ``parent``."""
        if self.enabled:
            pid = next(s["id"] for s in reversed(self.spans) if s["name"] == parent)
            self.spans.append({"run": self.run_id, "id": len(self.spans), "name": name,
                               "parent": pid, "start": start, "end": end})

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        child = Counter()
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = Counter()
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "self_s": self.self_times()}, f)


class JobCursor:
    """Jobs, stages and tasks run since the last ``take()``, read from
    the status tracker. Job ids are sequential, so the cursor walks
    forward until the tracker knows no further job."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()
        self.next_id = 0
        self.skip()

    def skip(self) -> None:
        while self.tracker.getJobInfo(self.next_id) is not None:
            self.next_id += 1

    def take(self) -> Counter:
        out = Counter()
        while True:
            job = self.tracker.getJobInfo(self.next_id)
            if job is None:
                return out
            self.next_id += 1
            out["spark.jobs"] += 1
            for sid in job.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks:
                    out["spark.stages"] += 1
                    out["spark.tasks"] += st.numCompletedTasks


class StreamProbe:
    """Wraps ``StreamingQuery.awaitTermination`` (the call the engine's
    drains block on) with a span, and keeps each drained query's
    ``recentProgress``."""

    def __init__(self, tracer: Tracer):
        from pyspark.sql.streaming.query import StreamingQuery

        self.cls = StreamingQuery
        self.orig = StreamingQuery.awaitTermination
        self.tracer = tracer
        self.progress: list[list[dict]] = []

    def __enter__(self):
        probe = self

        def await_termination(query, timeout=None):
            with probe.tracer.span("stream.await"):
                res = probe.orig(query, timeout)
            probe.progress.append([json.loads(p.json) if hasattr(p, "json") else p
                                   for p in query.recentProgress])
            return res

        self.cls.awaitTermination = await_termination
        return self

    def __exit__(self, *exc):
        self.cls.awaitTermination = self.orig

    def take(self) -> Counter:
        out = Counter()
        for query in self.progress:
            for p in query:
                d = p.get("durationMs", {})
                out["stream.batches"] += 1
                out["stream.planning_s"] += d.get("queryPlanning", 0) / 1000.0
                out["stream.add_batch_s"] += d.get("addBatch", 0) / 1000.0
                out["stream.commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0
            if query:
                ops = query[-1].get("stateOperators", [])
                out["stream.state_rows"] += sum(o.get("numRowsTotal", 0) for o in ops)
                out["stream.state_bytes"] += sum(o.get("memoryUsedBytes", 0) for o in ops)
        self.progress.clear()
        return out


def _tree_pss_bytes(root: int) -> int:
    """Proportional set size of ``root`` and all its descendants, from
    /proc. PSS splits pages that forked Python workers share with their
    daemon among them, so a sum over the tree counts each page once."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue  # the process ended while we looked
            kids.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
        except (OSError, StopIteration):
            continue
    return total


class RssSampler(threading.Thread):
    """Samples the resident memory (PSS) of the JVM's process tree every
    ``RSS_INTERVAL_S``; ``reset()`` returns the peak since the previous
    reset, in MiB."""

    def __init__(self, jvm_pid: int):
        super().__init__(daemon=True)
        self.pid = jvm_pid
        self.peak = 0
        self._stop_evt = threading.Event()
        self._lock = threading.Lock()

    def run(self):
        while not self._stop_evt.wait(RSS_INTERVAL_S):
            v = _tree_pss_bytes(self.pid)
            with self._lock:
                self.peak = max(self.peak, v)

    def reset(self) -> float:
        with self._lock:
            peak, self.peak = self.peak, _tree_pss_bytes(self.pid)
        return peak / 2**20

    def stop(self):
        self._stop_evt.set()
        self.join(timeout=5)
