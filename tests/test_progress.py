"""Structured progress tracker (docetl_spark/progress.py) — reference
parity with progress/tracker.py + events.py: registered-up-front ops,
op lifecycle, thread-safe snapshot, JSON-serializable state, the
active-tracker module global, and the plain-text console rendering."""

import json

from docetl_spark import FakeBackend
from docetl_spark.progress import (
    ProgressTracker, active_tracker, render_line, render_table,
    set_active_tracker,
)


def test_tracker_lifecycle_and_to_dict():
    t = ProgressTracker()
    t.pipeline_start([("s1", "extract", "map", "gpt-x"), ("s1", "keep", "filter")])
    st = t.snapshot()
    assert [o.status for o in st.ops] == ["queued", "queued"]
    assert st.ops[0].model == "gpt-x" and st.ops[1].model is None

    t.op_start("extract", "map", total=10)
    t.tick(3)
    t.set_phase(5, "glean round 2")
    assert st.ops[0].completed == 0 and st.ops[0].phase == "glean round 2"
    t.tick(5)
    t.doc_error()
    t.op_done("extract", out_count=9)
    assert st.ops[0].status == "done" and st.ops[0].out_count == 9
    assert st.ops[0].errors == 1

    # optimizer-injected op registers on the fly
    t.op_start("injected/split", "split")
    t.op_done("injected/split", out_count=40)
    t.pipeline_done()
    d = t.snapshot().to_dict()
    json.dumps(d)  # streamable, like the reference websocket model
    assert d["finished"] and len(d["ops"]) == 3
    assert d["ops"][2]["name"] == "injected/split"


def test_active_tracker_global():
    t = ProgressTracker()
    set_active_tracker(t)
    try:
        assert active_tracker() is t
    finally:
        set_active_tracker(None)
    assert active_tracker() is None


def test_render_table_and_line():
    t = ProgressTracker()
    t.pipeline_start([("s1", "extract", "map")])
    t.op_start("extract", "map")
    t.op_done("extract", out_count=1234)
    t.op_jobs("extract", 7)
    t.pipeline_done()
    table = render_table(t.snapshot())
    assert "extract" in table and "1,234" in table and "done" in table
    head, row = table.splitlines()[1], table.splitlines()[3]
    assert head.split()[6] == "jobs" and row.split()[6] == "7"
    assert t.snapshot().to_dict()["ops"][0]["jobs"] == 7
    line = render_line(t.snapshot().ops[0])
    assert "extract" in line and "1,234" in line


def test_run_pipeline_with_tracker(spark):
    from docetl_spark.plans import run_pipeline
    from docetl_spark.progress import ProgressTracker

    cfg = {
        "datasets": {"d": {"type": "memory", "data": [
            {"id": 1, "v": 10}, {"id": 2, "v": 3}, {"id": 3, "v": 30}]}},
        "operations": [
            {"name": "big", "type": "code_filter", "predicate": "v > 5"},
            {"name": "tag", "type": "code_map",
             "code": "def transform(row):\n    return {'v2': row['v'] * 2}",
             "output": {"schema": {"v2": "int"}}},
        ],
        "pipeline": {"steps": [
            {"name": "s1", "input": "d", "operations": ["big", "tag"]}]},
    }
    t = ProgressTracker()
    out = run_pipeline(spark, cfg, backend=FakeBackend(), tracker=t)
    assert out.df.count() == 2
    st = t.snapshot()
    assert st.finished
    by = {o.name: o for o in st.ops}
    assert by["big"].out_count == 2 and by["big"].status == "done"
    assert by["tag"].out_count == 2
    assert by["big"].step == "s1" and by["big"].op_type == "code_filter"
