"""run_pipeline materializes each op as a local checkpoint: one Spark
job per op boundary, the op's row count observed on that same job, and
the next op's plan starting at a leaf."""

import json
import re
import subprocess
import sys
import uuid
from pathlib import Path

from docetl_spark import run_pipeline
from docetl_spark.plugins import register_operator, unregister_operator
from docetl_spark.progress import ProgressTracker

REPO = Path(__file__).resolve().parent.parent
ROWS = [{"id": i, "v": i} for i in range(20)]


def _config(ops):
    return {"datasets": {"d": {"type": "memory", "data": ROWS}}, "operations": ops,
            "pipeline": {"steps": [{"name": "s", "input": "d",
                                    "operations": [o["name"] for o in ops]}]}}


THREE_FILTERS = _config([{"name": f"f{i}", "type": "code_filter", "predicate": f"v > {i}"}
                         for i in range(3)])


def _jobs_of(spark, fn):
    """Run ``fn`` under a fresh job group; returns (its result, the
    number of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"ckpt-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_one_job_per_op_without_an_exchange(spark):
    run_pipeline(spark, THREE_FILTERS)  # warm: first-use work is not the rule
    tracker = ProgressTracker()
    out, jobs = _jobs_of(spark, lambda: run_pipeline(spark, THREE_FILTERS, tracker=tracker))
    assert jobs == 3  # persist + count took three per op
    assert [o.out_count for o in tracker.snapshot().ops] == [19, 18, 17]
    # the result's count is the one observed on its op's job
    n, jobs = _jobs_of(spark, out.count)
    assert (n, jobs) == (17, 0)
    out.collect()


def test_each_op_reads_a_leaf_plan(spark):
    plans = []

    def record(sf, config, datasets):
        plan = sf.df._jdf.queryExecution().executedPlan().toString()
        plans.append(re.sub(r"#\d+", "#", plan))
        return sf._next(sf.df.where("v >= 0"), "record")

    register_operator("ckpt_repartition", lambda sf, c, d: sf._next(sf.df.repartition(3), "rep"))
    register_operator("ckpt_record", record)
    try:
        ops = [{"name": "rep", "type": "ckpt_repartition"}] + [
            {"name": f"r{i}", "type": "ckpt_record"} for i in range(11)]
        out = run_pipeline(spark, _config(ops))
    finally:
        unregister_operator("ckpt_repartition")
        unregister_operator("ckpt_record")
    assert out.count() == len(ROWS)
    out.collect()
    # behind the exchange, persist + count doubled the input plan per op
    # (650 characters at op 1, 1.3M at op 11)
    assert len(plans) == 11 and len(set(plans)) == 1, [len(p) for p in plans]
    assert "ExistingRDD" in plans[0] and "Exchange" not in plans[0]


def test_a_frame_derived_after_collect_keeps_computing(spark):
    out = run_pipeline(spark, THREE_FILTERS)
    rows = out.collect()
    assert len(rows) == 17
    # collect released the result's checkpoint and handed df its rows
    assert out.df.count() == 17
    assert out.where("v > 10").count() == 9
    assert sorted(r["v"] for r in out.df.collect()) == [r["v"] for r in rows]


def test_step_views_after_the_run(spark):
    config = {**THREE_FILTERS, "pipeline": {"steps": [
        {"name": "ckpt_named", "input": "d", "operations": ["f0"]},
        {"name": "ckpt_link", "input": "ckpt_named", "operations": ["f1"]},
        {"name": "ckpt_out", "operations": ["f2"]},  # continues ckpt_link
    ]}}
    out = run_pipeline(spark, config)
    # the next step continued ckpt_link: released like an op's output
    assert not spark.catalog.tableExists("ckpt_link")
    rows = out.collect()
    # a step read by name stays readable; the result's view reads the rows
    assert spark.table("ckpt_named").count() == 19
    assert spark.table("ckpt_out").count() == len(rows) == 17
    spark.catalog.dropTempView("ckpt_named")


_RETRY = """
import json, os, sys
from pyspark import TaskContext
from docetl_spark import FakeBackend, get_spark, run_pipeline
from docetl_spark.progress import ProgressTracker
from docetl_spark.resilience import BackendMetrics, ResilientBackend

marker, cache_root = sys.argv[1], sys.argv[2]
ROWS = [{"id": i, "grp": i % 3, "text": f"note {i} about topic {i % 3}"} for i in range(16)]
OPS = [
    {"name": "label", "type": "map", "prompt": "label: {{ input.text }}",
     "output": {"schema": {"label": "str"}}},
    {"name": "dedupe", "type": "resolve", "id_col": "id", "compare_cols": ["label"],
     "comparison_prompt": "same: {{ input1.label }} vs {{ input2.label }}",
     "blocking_conditions": ["a.grp = b.grp"], "output": {"schema": {"label": "str"}}},
    {"name": "summarize", "type": "reduce", "reduce_key": "grp",
     "prompt": "sum: {% for i in inputs %}{{ i.label }} {% endfor %}",
     "output": {"schema": {"summary": "str"}}},
]


class DiesOnce(FakeBackend):
    # the first model stage (the map) dies on attempt 0 of partition 0,
    # before its first call
    def complete(self, prompt, output_schema, context):
        tc = TaskContext.get()
        if prompt.startswith("label:") and tc.partitionId() == 0 and tc.attemptNumber() == 0:
            open(marker, "w").close()
            os._exit(1)
        return super().complete(prompt, output_schema, context)


def run(n_ops, inner, name):
    metrics = BackendMetrics(spark.sparkContext)
    backend = ResilientBackend(inner, namespace=name, metrics=metrics,
                               cache_dir=os.path.join(cache_root, name))
    tracker = ProgressTracker()
    config = {"datasets": {"d": {"type": "memory", "data": ROWS}}, "operations": OPS[:n_ops],
              "pipeline": {"steps": [{"name": "s", "input": "d",
                                      "operations": [o["name"] for o in OPS[:n_ops]]}]}}
    out = run_pipeline(spark, config, backend=backend, tracker=tracker)
    counted = out.df.count()
    rows = sorted(json.dumps(r, sort_keys=True) for r in out.collect())
    return {"calls": metrics.snapshot()["calls"], "rows": rows, "counted": counted,
            "observed": {o.name: o.out_count for o in tracker.snapshot().ops}}


spark = get_spark("op-retry", master="local[4,2]")
clean = [run(n, FakeBackend(), f"clean{n}") for n in (1, 2, 3)]
retried = run(3, DiesOnce(), "retried")
print(json.dumps({"clean": clean, "retried": retried}))
spark.stop()
"""


def test_a_retried_task_is_counted_once(tmp_path):
    marker = tmp_path / "died"
    proc = subprocess.run([sys.executable, "-c", _RETRY, str(marker), str(tmp_path)],
                          capture_output=True, text=True, cwd=str(REPO), timeout=900)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert marker.exists(), "no worker died: the test did not exercise the retry"
    res = json.loads(proc.stdout.splitlines()[-1])
    clean, retried = res["clean"][-1], res["retried"]
    assert retried["calls"] == clean["calls"] > 0
    # each op's observed count is a count() of that op's output
    per_op = {name: run["counted"] for name, run in zip(["label", "dedupe", "summarize"], res["clean"])}
    assert retried["observed"] == clean["observed"] == per_op
    assert retried["rows"] == clean["rows"]
