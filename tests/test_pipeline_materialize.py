"""run_pipeline materializes each op once, whether or not a tracker is
watching: a model call happens once per row per op, and every cache the
run pinned is released by the result's ``collect()``."""

from itertools import combinations

from docetl_spark import FakeBackend, run_pipeline
from docetl_spark.progress import ProgressTracker
from docetl_spark.resilience import BackendMetrics, ResilientBackend

ROWS = [{"id": i, "grp": i % 3, "text": f"note {i} about topic {i % 3}"} for i in range(12)]
OPERATIONS = [
    {"name": "label", "type": "map", "prompt": "label: {{ input.text }}",
     "output": {"schema": {"label": "str"}}},
    {"name": "dedupe", "type": "resolve", "id_col": "id", "compare_cols": ["label"],
     "comparison_prompt": "same: {{ input1.label }} vs {{ input2.label }}",
     "blocking_conditions": ["a.grp = b.grp"],
     "output": {"schema": {"label": "str"}}},
]


def _config(steps):
    return {"datasets": {"d": {"type": "memory", "data": ROWS}},
            "operations": OPERATIONS, "pipeline": {"steps": steps}}


ONE_STEP = [{"name": "s", "input": "d", "operations": ["label", "dedupe"]}]
TWO_STEPS = [{"name": "s1", "input": "d", "operations": ["label"]},
             {"name": "s2", "operations": ["dedupe"]}]


def _calls(spark, tracker):
    metrics = BackendMetrics(spark.sparkContext)
    backend = ResilientBackend(FakeBackend(), cache_size=0, metrics=metrics)
    rows = run_pipeline(spark, _config(ONE_STEP), backend=backend, tracker=tracker).collect()
    assert sorted(r["id"] for r in rows) == [r["id"] for r in ROWS]
    return metrics.snapshot()["calls"]


def test_one_model_call_per_row_per_op_traced_or_not(spark):
    # map: one call per row; resolve: one call per blocked pair
    # (same grp, id_a < id_b), no resolution prompt
    pairs = sum(1 for a, b in combinations(ROWS, 2) if a["grp"] == b["grp"])
    expected = len(ROWS) + pairs
    untraced = _calls(spark, None)
    traced = _calls(spark, ProgressTracker())
    assert (untraced, traced) == (expected, expected)


def test_collect_releases_every_cache_the_run_pinned(spark):
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    for tracker in (None, ProgressTracker()):
        for steps in (ONE_STEP, TWO_STEPS):
            before = persistent().size()
            out = run_pipeline(spark, _config(steps), backend=FakeBackend(), tracker=tracker)
            # only the result stays pinned once the run returns
            assert persistent().size() <= before + 1, (tracker, steps)
            out.collect()
            assert persistent().size() == before, (tracker, steps)
