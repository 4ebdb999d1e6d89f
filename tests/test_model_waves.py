"""Every model stage runs as one full-width wave: a task's reduce groups
call the model together (``semantic.run_groups``), resolve's verdicts
come back in one stage, and resolve's majority vote is SQL. Results
match a serial backend on every grouped path."""

import hashlib
import time

import pandas as pd
import pytest

from docetl_spark import FakeBackend, run_pipeline
from docetl_spark.operators.rank import _comparison_qurk_rank
from docetl_spark.operators.resolve import resolve
from docetl_spark.operators.semantic import semantic_reduce
from docetl_spark.types import schema_of


@pytest.fixture()
def shuffle_partitions(spark):
    """Set ``spark.sql.shuffle.partitions`` for one test."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    yield lambda n: spark.conf.set("spark.sql.shuffle.partitions", str(n))
    spark.conf.set("spark.sql.shuffle.partitions", old)


def _jitter_backend(conc: int, **kw):
    """FakeBackend with ``max_concurrency`` ``conc`` that sleeps 0-8 ms
    per call (by prompt hash, so concurrent calls finish out of order)
    and fills a ``trail`` key with the prompt's hash, so a fold's
    accumulator chain shows in the output."""

    class Jitter(FakeBackend):
        max_concurrency = conc

        def complete(self, prompt, output_schema, context):
            h = hashlib.sha1(prompt.encode()).hexdigest()
            time.sleep(int(h[:2], 16) % 5 * 0.002)
            out = super().complete(prompt, output_schema, context)
            if "trail" in output_schema:
                out["trail"] = h[:10]
            return out

    return Jitter(**kw)


def _rows(df) -> list[str]:
    return sorted(repr(r.asDict(recursive=True)) for r in df.collect())


# ------------------------------------------------------------ in flight
def test_a_tasks_reduce_groups_call_the_model_together(spark, shuffle_partitions):
    """One partition, 16 groups, 50 ms per call: with max_concurrency 8
    the groups of the one task overlap (applyInPandas ran them one at a
    time, a peak of 1)."""

    class Peak(FakeBackend):
        max_concurrency = 8

        def complete(self, prompt, output_schema, context):
            live = self.__dict__.setdefault("_live", [])
            live.append(1)
            n = len(live)
            time.sleep(0.05)
            live.pop()
            return {"in_flight": n}

    shuffle_partitions(1)
    df = spark.createDataFrame([(f"g{i:02d}", i) for i in range(16)], "g string, v long").coalesce(1)
    out = semantic_reduce(df, "g", "n {{ inputs | length }}", {"in_flight": "int"}, Peak()).collect()
    assert sorted(r["g"] for r in out) == [f"g{i:02d}" for i in range(16)]
    assert max(r["in_flight"] for r in out) >= 4


def test_resolve_verdicts_run_in_one_stage(spark, tmp_path):
    """Every comparison call comes from one stage, though the pairs are
    spread over several partitions (an incremental take ran the verdicts
    on one partition first, then on the rest, as a second stage)."""
    log = str(tmp_path / "verdicts")

    class Verdicts(FakeBackend):
        max_concurrency = 8

        def complete(self, prompt, output_schema, context):
            if "is_match" in output_schema:
                from pyspark import TaskContext

                tc = TaskContext.get()
                with open(log, "a") as f:
                    f.write(f"{tc.stageId()} {tc.partitionId()}\n")
            return super().complete(prompt, output_schema, context)

    rows = [(i, f"g{i % 6}", f"name{i % 12}") for i in range(24)]
    df = spark.createDataFrame(rows, "id long, grp string, name string")
    out = resolve(
        df, Verdicts(), id_col="id", comparison_prompt="{{ input1.name }} vs {{ input2.name }}",
        output_schema={"name": "string"}, compare_cols=["name"],
        blocking_conditions=["a.grp = b.grp"],
    ).collect()
    assert len(out) == 24
    calls = [line.split() for line in open(log).read().splitlines()]
    assert len(calls) == 6 * 6  # C(4, 2) pairs in each of 6 blocks, once each
    assert len({p for _, p in calls}) >= 2
    assert len({s for s, _ in calls}) == 1


def test_connected_components_labels_struct_ids(spark):
    """The one-job edge collect hands the union-find hashable ids: a
    struct id arrives as a Row (Arrow would hand back a dict)."""
    from docetl_spark.functions.dedup import connected_components

    ids = "struct<x:int,y:string>"
    edges = spark.createDataFrame([((1, "a"), (2, "b")), ((2, "b"), (3, "c"))],
                                  f"id_a {ids}, id_b {ids}")
    verts = spark.createDataFrame([((i, c),) for i, c in enumerate("abcd", 1)], f"id {ids}")
    got = {r["id"]["x"]: r["component"]["x"]
           for r in connected_components(edges, verts, "id").collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4}


# ------------------------------------------------------- majority vote
def _tie_frame(spark):
    return spark.createDataFrame(
        [(1, "a", 10), (2, "a", 9), (3, "b", 7), (4, "b", 7), (5, "b", 3), (6, "c", None)],
        "id long, grp string, score long",
    )


def _resolve_by_grp(df, output_schema):
    return resolve(
        df, FakeBackend(), id_col="id", comparison_prompt="{{ input1.grp }} vs {{ input2.grp }}",
        output_schema=output_schema, compare_cols=["grp"], blocking_conditions=["a.grp = b.grp"],
    )


def test_resolve_majority_vote_breaks_a_numeric_tie(spark):
    """A tie on an int key resolves to the smallest value (the Python
    vote put the smallest *string*, '10', into the int column and
    raised)."""
    out = _resolve_by_grp(_tie_frame(spark), {"score": "int"})
    assert out.columns == ["_cluster_id", "id", "grp", "score"]
    assert out.schema["score"].dataType == schema_of({"score": "int"})["score"].dataType
    got = sorted((r["id"], r["_cluster_id"], r["grp"], r["score"]) for r in out.collect())
    assert got == [(1, 1, "a", 9), (2, 1, "a", 9), (3, 3, "b", 7), (4, 3, "b", 7),
                   (5, 3, "b", 7), (6, 6, "c", None)]


def test_resolve_majority_vote_on_a_string_key(spark):
    out = _resolve_by_grp(_tie_frame(spark), {"grp": "string"})
    assert out.columns == ["_cluster_id", "id", "score", "grp"]
    got = sorted((r["id"], r["_cluster_id"], r["score"], r["grp"]) for r in out.collect())
    assert got == [(1, 1, 10, "a"), (2, 1, 9, "a"), (3, 3, 7, "b"), (4, 3, 7, "b"),
                   (5, 3, 3, "b"), (6, 6, None, "c")]


# ------------------------------------------------- equal to serial runs
_FOLD = {
    "fold_prompt": "fold {{ output.trail }} {{ inputs | map(attribute='text') | join('|') }}",
    "fold_batch_size": 2,
}
_MERGE = {**_FOLD, "merge_prompt": "merge {{ outputs | map(attribute='trail') | join('|') }}",
          "num_parallel_folds": 4}
_REDUCE_CASES = {
    "one_shot": {},
    "fold": _FOLD,
    "fold_merge": {**_MERGE, "merge_batch_size": 2},
    "distribute_folds": {**_MERGE, "distribute_folds": True},
    "value_sampling": {"value_sampling": {"method": "stride", "size": 2}},
    "pass_through": {"pass_through": True},
    "lineage_keys": {"lineage_keys": ["id"]},
    "persist_intermediates": {**_FOLD, "persist_intermediates": True},
    "limit": {"limit": 3},
    "all": {"reduce_key": "_all"},
    "list_keys": {"reduce_key": "tags"},
    "two_keys": {"reduce_key": ["g", "tags"]},
}


def _reduce_frame(spark):
    words = ["alpha beta", "good gamma", "delta, bad", "epsilon", "zeta eta theta"]
    rows = []
    for i in range(40):
        g = None if i % 9 == 0 else f"g{i % 7}"
        tags = ["x", "y"] if i % 3 == 0 else (["y", "x"] if i % 3 == 1 else ["z"])
        rows.append((i, g, tags, f"{words[i % 5]} {i}"))
    return spark.createDataFrame(rows, "id long, g string, tags array<string>, text string")


@pytest.mark.parametrize("case", sorted(_REDUCE_CASES))
def test_reduce_matches_a_serial_backend(spark, shuffle_partitions, case):
    """Each reduce path gives the same rows with 8 groups in flight as
    with one call at a time; two partitions put several groups in each
    task."""
    shuffle_partitions(2)
    kw = {"reduce_key": "g", "sort_within_group": ["id"], **_REDUCE_CASES[case]}
    df = _reduce_frame(spark)

    def run(conc):
        return _rows(semantic_reduce(
            df, prompt="reduce {{ inputs | map(attribute='text') | join('|') }}",
            output_schema={"summary": "str", "n": "int", "trail": "str"},
            backend=_jitter_backend(conc), **kw,
        ))

    serial = run(1)
    assert serial == run(8)
    n_groups = {"all": 1, "limit": 3, "list_keys": 2, "two_keys": 15}.get(case, 8)
    assert len(serial) == n_groups


def test_rank_comparison_matches_a_serial_backend(spark, shuffle_partitions):
    shuffle_partitions(2)
    df = spark.createDataFrame([(i, (i * 37) % 23) for i in range(20)], "id long, v long")

    def run(conc):
        be = _jitter_backend(conc, rules={
            "ranking": lambda docs: sorted(range(len(docs)), key=lambda i: -docs[i]["v"])})
        return _rows(_comparison_qurk_rank(
            df, be, prompt="rank {{ inputs }}", direction="desc", tiebreak=["id"],
            rank_col="rank", batch_size=4, num_batches=12))

    serial = run(1)
    assert serial == run(8)
    assert len(serial) == 20


def test_resolve_with_resolution_prompt_matches_a_serial_backend(spark, shuffle_partitions):
    shuffle_partitions(2)
    rows = [(i, f"g{i % 5}", f"Name {i % 3}") for i in range(20)]
    df = spark.createDataFrame(rows, "id long, grp string, name string")

    def run(conc):
        return _rows(resolve(
            df, _jitter_backend(conc), id_col="id",
            comparison_prompt="{{ input1.grp }} vs {{ input2.grp }}",
            resolution_prompt="canon {{ inputs | map(attribute='id') | join('|') }}",
            output_schema={"name": "str", "trail": "str"}, compare_cols=["grp"],
            blocking_conditions=["a.grp = b.grp"],
        ))

    serial = run(1)
    assert serial == run(8)
    assert len({r.split("'trail': ")[1] for r in serial}) == 5  # one answer per cluster


# ------------------------------------------------------ grouping rules
def test_run_groups_groups_as_groupby(spark, shuffle_partitions):
    """Null, NaN and signed-zero float keys, array keys and struct keys
    split into the groups ``groupBy`` makes, even when a null group and
    a NaN group sort next to each other in one partition."""
    from docetl_spark.operators.semantic import run_groups

    shuffle_partitions(1)
    nan = float("nan")
    rows = [(None, ["a", "b"], (1, "p")), (nan, ["b", "a"], (1, "p")), (None, None, None),
            (nan, ["a", "b"], (2, None)), (-0.0, [], (2, None)), (0.0, [None], None)]
    df = spark.createDataFrame(rows, "x double, t array<string>, s struct<a:int,b:string>")
    only_null_nan = df.filter("x IS NULL OR isnan(x)")
    for frame in (df, only_null_nan):
        for key in ("x", "t", "s"):
            for conc in (1, 8):
                got = run_groups(frame, [key], lambda pdf: pd.DataFrame({"n": [len(pdf)]}),
                                 "n long", _jitter_backend(conc))
                want = frame.groupBy(key).count()
                assert sorted(r["n"] for r in got.collect()) == sorted(
                    r["count"] for r in want.collect()), (key, conc)


# ---------------------------------------------------------- directives
def test_doc_chunking_plan_keeps_the_documents_columns(spark):
    """doc_chunking rewrites map -> split, gather, map, combine reduce;
    the combine keeps the document's columns, so a reduce on one of
    them downstream still finds it."""
    ops = [{"name": "m", "type": "map", "prompt": "Summarize {{ input.text }}",
            "output": {"schema": {"s": "str"}}},
           {"name": "r", "type": "reduce", "reduce_key": "g", "prompt": "Combine {{ inputs }}",
            "output": {"schema": {"total": "str"}}}]
    data = [{"g": "a", "text": "one two three"}, {"g": "b", "text": "four five"},
            {"g": "a", "text": "six"}]
    cfg = {
        "datasets": {"d": {"type": "memory", "data": data}},
        "operations": ops,
        "pipeline": {"steps": [{"name": "s", "input": "d", "operations": ["m", "r"]}]},
        "optimize": {"objective": "accuracy", "stats": {"rows": 1000, "avg_doc_tokens": 3000}},
    }
    out = run_pipeline(spark, cfg, backend=FakeBackend())
    assert "directive:doc_chunking" in dict(out.op_log)["rewrites"]["fired"]
    got = sorted((r["g"], r["_counts_prereduce_r"]) for r in out.collect())
    assert got == [("a", 2), ("b", 1)]


def test_doc_chunking_topk_plan_keeps_the_documents_columns(spark):
    """doc_chunking_topk's answer reduce keeps the document's columns
    too (it returned only the split id, the answer and the count)."""
    from docetl_spark.plans import PlanStats
    from docetl_spark.plans.directives import DIRECTIVES
    from docetl_spark.plans.ir import lift

    ops = [{"name": "m", "type": "map", "prompt": "Summarize data of {{ input.text }}",
            "output": {"schema": {"s": "str"}}}]
    topk = next(d for d in DIRECTIVES if d.name == "doc_chunking_topk")
    rewritten = topk.apply(lift(ops), 0, PlanStats(avg_doc_tokens=3000, chunk_tokens=2), None)
    assert [o.type for o in rewritten] == ["split", "topk", "reduce"]
    data = [{"g": "a", "text": "one two data three four five six"},
            {"g": "b", "text": "four five data"}]
    cfg = {
        "datasets": {"d": {"type": "memory", "data": data}},
        "operations": [{"type": o.type, **o.config} for o in rewritten],
        "pipeline": {"steps": [{"name": "s", "input": "d",
                                "operations": [o.config["name"] for o in rewritten]}]},
    }
    rows = run_pipeline(spark, cfg, backend=FakeBackend()).collect()
    assert sorted((r["g"], r["text"]) for r in rows) == [
        ("a", "one two data three four five six"), ("b", "four five data")]
    assert all(r["s"] for r in rows)


def test_link_resolve_comparisons_overlap(spark, tmp_path):
    """link_resolve's comparisons go through the judge, so a batch's
    calls overlap up to max_concurrency (they ran one after another)."""
    from docetl_spark.operators.link_resolve import link_resolve

    log = str(tmp_path / "in_flight")

    class Peak(FakeBackend):
        max_concurrency = 4

        def complete(self, prompt, output_schema, context):
            live = self.__dict__.setdefault("_live", [])
            live.append(1)
            with open(log, "a") as f:
                f.write(f"{len(live)}\n")
            time.sleep(0.05)
            live.pop()
            return super().complete(prompt, output_schema, context)

    df = spark.createDataFrame(
        [("apple", ["APPLE", "pear"]), ("banana", ["Banana!"]), ("cherry", ["kiwi"])],
        "name string, links array<string>",
    ).coalesce(1)
    out = {r["name"]: r["links"] for r in link_resolve(df, Peak(), id_key="name", link_key="links").collect()}
    assert out == {"apple": ["apple", "pear"], "banana": ["banana"], "cherry": ["kiwi"]}
    assert max(int(n) for n in open(log).read().split()) > 1
