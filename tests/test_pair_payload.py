"""Resolve and equijoin read each input once: every pair leaves its
blocking join carrying both rows' compare payload, adjudication reads
that pair table as it is, and resolve joins the driver-side cluster
label table straight onto its input. The Spark jobs each op launches
are pinned so that a re-join cannot come back silently."""

import json
import subprocess
import sys
from pathlib import Path

from docetl_spark import FakeBackend
from docetl_spark.operators.equijoin import equijoin
from docetl_spark.operators.resolve import adjudicate_pairs, candidate_pairs, resolve

REPO = Path(__file__).resolve().parent.parent


def _logging_backend(path: str):
    """FakeBackend that matches every pair and appends one line per
    comparison call to ``path`` (the calls run in Python workers)."""

    class Logged(FakeBackend):
        def complete(self, prompt, output_schema, context):
            if "is_match" in output_schema:
                with open(path, "a") as f:
                    f.write(prompt + "\n")
                return {"is_match": True}
            return super().complete(prompt, output_schema, context)

    return Logged()


def test_equijoin_compares_each_row_pair_once_under_a_repeated_key(spark, tmp_path):
    """Two left rows share k=1: each left x right row pair is compared
    once (the reference's semantics). Re-joining a key-only pair table
    on `_lk_k` paired every row of a repeated key with every other: 5
    rows and 5 calls."""
    log = str(tmp_path / "calls")
    left = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], "k long, v string")
    right = spark.createDataFrame([(1,), (2,)], "t long")
    out = equijoin(
        left, right, _logging_backend(log),
        comparison_prompt="{{ left.k }}{{ left.v }} vs {{ right.t }}",
        left_keys=["k"], right_keys=["t"], blocking_conditions=["left.k = right.t"],
    ).collect()
    assert sorted((r["k"], r["v"], r["t"]) for r in out) == [(1, "a", 1), (1, "b", 1), (2, "c", 2)]
    assert sorted(open(log).read().splitlines()) == ["1a vs 1", "1b vs 1", "2c vs 2"]


def test_equijoin_limit_keeps_each_pairs_payload(spark):
    """The stratified cap keeps the payload the pairs carry: the kept
    pairs are adjudicated without a join back to either side."""
    left = spark.createDataFrame([(i, "x" * (i % 3 + 1)) for i in range(6)], "lid long, ltext string")
    right = spark.createDataFrame([(j, "y" * 5) for j in range(2)], "rid long, rtext string")
    be = FakeBackend(rules={"is_match": lambda ctx: True})
    out = equijoin(
        left, right, be, comparison_prompt="{{ left.ltext }} {{ right.rtext }}",
        left_keys=["lid"], right_keys=["rid"], limit_comparisons=4,
        blocking_conditions=["left.lid % 2 = right.rid OR left.lid % 2 = right.rid"],
    ).collect()
    assert len(out) == 4
    assert all(r["ltext"] == "x" * (r["lid"] % 3 + 1) and r["rtext"] == "yyyyy" for r in out)


def test_resolve_pairs_carry_both_rows(spark):
    """candidate_pairs emits each pair with both rows' compare columns,
    on the paths that join rows and on the id-only ones alike."""
    df = spark.createDataFrame(
        [(1, "acme", "x"), (2, "acme corp", "y"), (3, "zeta", "z")], "id long, name string, other string")
    for kw in ({"blocking_conditions": ["substr(a.name, 1, 2) = substr(b.name, 1, 2)"]},
               {"sorted_neighborhood": {"key": "name", "window": 2}}):
        pairs = candidate_pairs(df, "id", compare_cols=["name"], **kw)
        assert pairs.columns == ["id_a", "id_b", "_a_name", "_b_name"]
        got = {tuple(r) for r in pairs.collect()}
        assert (1, 2, "acme", "acme corp") in got
    matched = adjudicate_pairs(
        candidate_pairs(df, "id", compare_cols=["name"]),
        "{{ input1.name }} vs {{ input2.name }}",
        FakeBackend(rules={"is_match": lambda ctx: ctx[0]["name"][:2] == ctx[1]["name"][:2]}),
    )
    assert [tuple(r) for r in matched.collect()] == [(1, 2)]


def test_resolve_labels_every_row_once(spark):
    """The label table covers matched ids only; a row with no edge
    labels itself, and a repeated id keeps its row count."""
    df = spark.createDataFrame(
        [(1, "acme"), (2, "ACME"), (3, "zeta"), (3, "zeta")], "id long, name string")
    out = resolve(
        df, FakeBackend(), id_col="id", comparison_prompt="{{ input1.name }} vs {{ input2.name }}",
        output_schema={"name": "string"}, compare_cols=["name"],
        blocking_conditions=["substr(lower(a.name), 1, 2) = substr(lower(b.name), 1, 2)"],
    ).collect()
    assert sorted((r["id"], r["_cluster_id"]) for r in out) == [(1, 1), (2, 1), (3, 3), (3, 3)]


_JOBS = r"""
import json

from docetl_spark import FakeBackend, get_spark, run_pipeline
from docetl_spark.progress import ProgressTracker

names = ["spark", "Spark", "sparks", "kafka", "Kafka", "flink", "flinks", "beam"]
cfg = {
    "datasets": {
        "d": {"type": "memory", "data": [{"id": i, "name": n} for i, n in enumerate(names)]},
        "g": {"type": "memory", "data": [{"term": t, "category": "tool"}
                                         for t in ("spark", "kafka", "flink", "storm")]},
    },
    "operations": [
        {"name": "keep", "type": "code_filter", "predicate": "id >= 0"},
        {"name": "res", "type": "resolve", "id_col": "id", "compare_cols": ["name"],
         "comparison_prompt": "{{ input1.name }} vs {{ input2.name }}",
         "blocking_conditions": ["substr(lower(a.name), 1, 3) = substr(lower(b.name), 1, 3)"],
         "output": {"schema": {"name": "string"}}},
        {"name": "join", "type": "equijoin", "right": "g", "left_keys": ["id"],
         "right_keys": ["term"], "comparison_prompt": "{{ left.name }} vs {{ right.term }}",
         "blocking_conditions": ["substr(lower(left.name), 1, 3) = substr(right.term, 1, 3)"]},
    ],
    "pipeline": {"steps": [{"name": "s", "input": "d", "operations": ["keep", "res", "join"]}]},
}
# a tag matches its own name, case aside, or the glossary term
be = FakeBackend(rules={"is_match": lambda ctx: ctx[0]["name"].lower()
                        == ctx[1].get("term", ctx[1].get("name")).lower()})
spark = get_spark("op-jobs", master="local[2]", shuffle_partitions=2)
runs = []
for _ in range(2):  # the first run pays first-use work
    tracker = ProgressTracker()
    rows = run_pipeline(spark, cfg, backend=be, tracker=tracker).collect()
    runs.append({"jobs": {o.name: o.jobs for o in tracker.snapshot().ops},
                 "rows": sorted((r["id"], r["term"]) for r in rows)})
print(json.dumps(runs[-1]))
spark.stop()
"""


def test_resolve_and_equijoin_jobs_per_op():
    """On local[2] with 2 shuffle partitions, resolve with blocking
    conditions launches 7 jobs and equijoin 5. They launched 12 and 9
    while both joined their pair tables back to their inputs and resolve
    labelled its vertices through a join of its own."""
    proc = subprocess.run([sys.executable, "-c", _JOBS], capture_output=True, text=True,
                          cwd=str(REPO), timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.splitlines()[-1])
    assert res["rows"] == [[0, "spark"], [1, "spark"], [3, "kafka"], [4, "kafka"], [5, "flink"]]
    assert res["jobs"] == {"keep": 1, "res": 7, "join": 5}
