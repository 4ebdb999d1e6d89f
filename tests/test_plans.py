"""Plan IR / rewrite / compiler / YAML / checkpoint tests.

Mirrors the reference's hermetic plan tests (tests/test_plan_rules.py,
test_plan_roundtrip.py — SURVEY.md §5): rewrites are pure list
transformations testable without Spark; the pipeline runner is driven
end-to-end with a FakeBackend.
"""

import pytest

from docetl_spark import Checkpointer, FakeBackend, run_pipeline, run_yaml
from docetl_spark.plans.ir import OpSpec, lift, lower
from docetl_spark.plans.rewrite import rewrite
from docetl_spark.progress import ProgressTracker


# --------------------------------------------------------------- rewrites

def _ops(*configs):
    return lift(list(configs))


def test_selection_pushdown_below_llm_map():
    ops, fired = rewrite(_ops(
        {"type": "map", "name": "m", "prompt": "summarize {{ input.text }}",
         "output": {"schema": {"summary": "str"}}},
        {"type": "code_filter", "name": "f", "predicate": "category = 'review'"},
    ))
    assert [o.type for o in ops] == ["code_filter", "map"]
    assert "selection_pushdown" in fired


def test_selection_pushdown_blocked_by_written_field():
    # the filter reads the field the map writes -> illegal hop
    ops, fired = rewrite(_ops(
        {"type": "map", "name": "m", "prompt": "p {{ input.text }}",
         "output": {"schema": {"flag": "str"}}},
        {"type": "code_filter", "name": "f", "predicate": "flag = 'yes'"},
    ))
    assert [o.type for o in ops] == ["map", "code_filter"]
    assert fired == []


def test_selection_pushdown_requires_llm_motive():
    # pure code_map chain: no cost motive, rule must not fire
    ops, fired = rewrite(_ops(
        {"type": "code_map", "name": "m", "code": "def transform(d): return {}",
         "output": {"schema": {"x": "int"}}},
        {"type": "code_filter", "name": "f", "predicate": "category = 'a'"},
    ))
    assert [o.type for o in ops] == ["code_map", "code_filter"]


def test_selection_pushdown_blocked_by_non_row_local():
    ops, fired = rewrite(_ops(
        {"type": "reduce", "name": "r", "reduce_key": "k", "prompt": "p {{ input.text }}",
         "output": {"schema": {"s": "str"}}},
        {"type": "code_filter", "name": "f", "predicate": "category = 'a'"},
    ))
    assert [o.type for o in ops] == ["reduce", "code_filter"]


def test_limit_pushdown_below_llm_map():
    ops, fired = rewrite(_ops(
        {"type": "map", "name": "m", "prompt": "p {{ input.text }}",
         "output": {"schema": {"s": "str"}}},
        {"type": "sample", "name": "head", "method": "first", "samples": 5},
    ))
    assert [o.type for o in ops] == ["sample", "map"]
    assert "limit_pushdown" in fired


def test_limit_pushdown_blocked_by_order_by_dependency():
    # map writes `score`; sample(first) orders by it — hopping the head
    # below the map would take first-N before the score exists
    ops, fired = rewrite(_ops(
        {"type": "map", "name": "m", "prompt": "score {{ input.text }}",
         "output": {"schema": {"score": "float"}}},
        {"type": "sample", "name": "head", "method": "first", "samples": 5,
         "order_by": ["score desc"]},
    ))
    assert [o.type for o in ops] == ["map", "sample"]
    assert "limit_pushdown" not in fired


def test_limit_pushdown_order_by_independent_still_hops():
    # ordering on a pre-existing column the map doesn't write: hop is legal
    ops, fired = rewrite(_ops(
        {"type": "map", "name": "m", "prompt": "p {{ input.text }}",
         "output": {"schema": {"s": "str"}}},
        {"type": "sample", "name": "head", "method": "first", "samples": 5,
         "order_by": ["id"]},
    ))
    assert [o.type for o in ops] == ["sample", "map"]
    assert "limit_pushdown" in fired


def test_lift_lower_roundtrip():
    configs = [
        {"type": "map", "prompt": "p", "output": {"schema": {"s": "str"}}},
        {"type": "code_filter", "predicate": "x = 1"},
    ]
    assert lower(lift(configs)) == configs


def test_python_predicate_fails_closed():
    spec = OpSpec("code_filter", {"code": "def predicate(d): return True"})
    assert spec.fields_read() is None  # unknown -> no hop allowed


# --------------------------------------------------------------- pipeline

PIPELINE = {
    "datasets": {
        "reviews": {
            "type": "memory",
            "data": [
                {"id": 0, "text": "fast and good", "category": "review"},
                {"id": 1, "text": "slow and bad", "category": "review"},
                {"id": 2, "text": "other thing", "category": "news"},
            ],
        }
    },
    "operations": [
        {"name": "keep_reviews", "type": "code_filter", "predicate": "category = 'review'"},
        {
            "name": "classify",
            "type": "map",
            "prompt": "Sentiment of {{ input.text }}",
            "output": {"schema": {"sentiment": "str"}},
        },
        {
            "name": "agg",
            "type": "code_reduce",
            "reduce_key": "sentiment",
            "code": "def reduce_fn(items): return {'n': len(items)}",
            "output": {"schema": {"n": "int"}},
        },
    ],
    "pipeline": {
        "steps": [
            {"name": "scored", "input": "reviews", "operations": ["keep_reviews", "classify"]},
            {"name": "rollup", "input": "scored", "operations": ["agg"]},
        ]
    },
}


def test_run_pipeline_end_to_end(spark):
    be = FakeBackend(rules={"sentiment": lambda row: "positive" if "fast" in row["text"] else "negative"})
    out = run_pipeline(spark, PIPELINE, backend=be)
    rows = {r["sentiment"]: r["n"] for r in out.collect()}
    assert rows == {"positive": 1, "negative": 1}
    # step boundary registered as temp view
    assert spark.table("scored").count() == 2


def test_run_yaml(spark, tmp_path):
    import yaml

    p = tmp_path / "pipe.yaml"
    p.write_text(yaml.safe_dump(PIPELINE))
    be = FakeBackend(rules={"sentiment": lambda row: "pos" if "fast" in row["text"] else "neg"})
    out = run_yaml(spark, str(p), backend=be)
    assert out.count() == 2


def test_checkpointer_hit_and_invalidation(spark, tmp_path):
    calls = {"n": 0}

    def make_cfg(pred):
        return {
            "datasets": PIPELINE["datasets"],
            "operations": [
                {"name": "f", "type": "code_filter", "predicate": pred},
                {
                    "name": "cnt",
                    "type": "code_reduce",
                    "reduce_key": "category",
                    "code": "def reduce_fn(items): return {'n': len(items)}",
                    "output": {"schema": {"n": "int"}},
                },
            ],
            "pipeline": {"steps": [{"name": "s", "input": "reviews", "operations": ["f", "cnt"]}]},
        }

    root = str(tmp_path / "ckpt")
    cfg = make_cfg("category = 'review'")
    out1 = run_pipeline(spark, cfg, checkpointer=Checkpointer(spark, root))
    n1 = {r["category"]: r["n"] for r in out1.collect()}
    # second run: same config -> both ops come from checkpoints, and a
    # hit runs the same per-op tail as a miss (started, counted, done)
    tracker = ProgressTracker()
    out2 = run_pipeline(spark, cfg, checkpointer=Checkpointer(spark, root), tracker=tracker)
    assert {r["category"]: r["n"] for r in out2.collect()} == n1
    ops = tracker.snapshot().ops
    assert [(o.name, o.status) for o in ops] == [("f", "done"), ("cnt", "done")]
    assert ops[1].out_count == len(n1) and ops[0].out_count >= ops[1].out_count
    # changed upstream config -> downstream hash changes too (no stale reuse)
    out3 = run_pipeline(spark, make_cfg("category = 'news'"), checkpointer=Checkpointer(spark, root))
    assert {r["category"]: r["n"] for r in out3.collect()} == {"news": 1}


def test_checkpointer_invalidates_on_dataset_change(spark, tmp_path):
    """Same op chain, DIFFERENT dataset -> must miss the cache (the input
    token is folded into the rolling hash, reference runner.py
    _compute_hashes)."""
    import json

    def write_ds(path, rows):
        with open(path, "w") as f:
            json.dump(rows, f)  # reference-style JSON array (multiLine)

    p1 = str(tmp_path / "a.json"); p2 = str(tmp_path / "b.json")
    write_ds(p1, [{"id": i, "category": "review", "text": f"x{i}"} for i in range(3)])
    write_ds(p2, [{"id": i, "category": "review", "text": f"x{i}"} for i in range(7)])

    def cfg(path):
        return {
            "datasets": {"d": {"type": "file", "path": path, "format": "json"}},
            "operations": [{
                "name": "cnt", "type": "code_reduce", "reduce_key": "category",
                "code": "def reduce_fn(items): return {'n': len(items)}",
                "output": {"schema": {"n": "int"}},
            }],
            "pipeline": {"steps": [{"name": "s", "input": "d", "operations": ["cnt"]}]},
        }

    root = str(tmp_path / "ckpt")
    out1 = run_pipeline(spark, cfg(p1), checkpointer=Checkpointer(spark, root))
    assert out1.collect()[0]["n"] == 3
    # different path, identical op configs: a stale hit would return n=3
    out2 = run_pipeline(spark, cfg(p2), checkpointer=Checkpointer(spark, root))
    assert out2.collect()[0]["n"] == 7


def test_equijoin_in_pipeline(spark):
    cfg = {
        "datasets": {
            "l": {"type": "memory", "data": [{"lid": 1, "v": "x"}, {"lid": 2, "v": "y"}]},
            "r": {"type": "memory", "data": [{"rid": 1, "w": "x"}, {"rid": 3, "w": "y"}]},
        },
        "operations": [
            {
                "name": "j",
                "type": "equijoin",
                "right": "r",
                "comparison_prompt": "{{ left.lid }} {{ right.rid }}",
                "left_keys": ["lid"],
                "right_keys": ["rid"],
                "blocking_conditions": ["left.lid = right.rid"],
            }
        ],
        "pipeline": {"steps": [{"name": "joined", "input": "l", "operations": ["j"]}]},
    }
    be = FakeBackend(rules={"is_match": lambda ctx: True})
    out = run_pipeline(spark, cfg, backend=be)
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["lid"] == 1 and rows[0]["rid"] == 1


# ------------------------------------------------- Frame <-> YAML round-trip

def test_frame_yaml_roundtrip(spark, tmp_path, sf_dir):
    """Frame -> to_yaml -> from_yaml -> to_yaml produces an identical
    config AND identical results (reference frame.py:1183-1247)."""
    from docetl_spark import SemanticFrame

    sf = (
        SemanticFrame.read_parquet(spark, f"{sf_dir}/documents.parquet", backend=FakeBackend())
        .code_filter("lang = 'en'")
        .split("text", "delimiter", {"delimiter": " ", "num_splits_to_group": 25}, doc_id="doc_id")
        .code_reduce(
            "doc_id",
            "def reduce_fn(items): return {'n_chunks': len(items)}",
            {"n_chunks": "int"},
        )
    )
    y1 = sf.to_yaml()
    p = str(tmp_path / "pipe.yaml")
    sf.to_yaml(p)

    sf2 = SemanticFrame.from_yaml(spark, p, backend=FakeBackend())
    y2 = sf2.to_yaml()
    assert y1 == y2  # identical plans after the round-trip

    r1 = sorted(sf.collect(), key=lambda r: r["doc_id"])
    r2 = sorted(sf2.collect(), key=lambda r: r["doc_id"])
    assert [r["n_chunks"] for r in r1] == [r["n_chunks"] for r in r2]
    assert len(r1) > 0


def test_frame_to_python_recreates_chain(spark, sf_dir):
    from docetl_spark import SemanticFrame

    be = FakeBackend()
    sf = (
        SemanticFrame.read_parquet(spark, f"{sf_dir}/documents.parquet", backend=be)
        .code_filter("lang = 'en'")
        .limit(10)
    )
    src = sf.to_python()
    assert "read_parquet" in src and "code_filter" in src and ".limit(10)" in src
    ns = {"spark": spark, "backend": be}
    exec(src, ns)
    assert ns["sf"].count() == sf.count()


def test_frame_export_rejects_python_only_ops(spark, sf_dir):
    from docetl_spark import SemanticFrame

    sf = SemanticFrame.read_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id")
    with pytest.raises(ValueError, match="Python-only"):
        sf.to_yaml()
    sf2 = SemanticFrame.from_df(spark.range(3).toDF("x"))
    with pytest.raises(ValueError, match="in-memory"):
        sf2.to_yaml()
    sf3 = SemanticFrame.read_parquet(spark, f"{sf_dir}/documents.parquet").code_map(
        lambda r: {"y": 1}, {"y": "int"})
    with pytest.raises(ValueError, match="bare callable"):
        sf3.to_yaml()


def test_frame_memoizes_terminal_actions(spark):
    from docetl_spark import SemanticFrame

    calls = {"n": 0}

    def fn(row):
        calls["n"] += 1
        return {"y": row["id"] * 2}

    df = spark.range(5).toDF("id")
    sf = SemanticFrame.from_df(df).code_map(fn, {"y": "int"})
    r1 = sf.collect()
    first = calls["n"]
    r2 = sf.collect()
    assert calls["n"] == first  # second collect served from the memo
    assert r1 == r2 and sf.count() == 5
    r1[0]["y"] = 999  # caller mutation must not corrupt the memo
    assert sf.collect()[0]["y"] != 999


def test_collect_memo_survives_nested_mutation(spark):
    from docetl_spark import FakeBackend, SemanticFrame

    df = spark.createDataFrame([{"id": 1, "tags": ["a", "b"]}])
    sf = SemanticFrame.from_df(df, backend=FakeBackend())
    rows = sf.collect()
    rows[0]["tags"].append("CORRUPT")
    assert sf.collect()[0]["tags"] == ["a", "b"]  # memo untouched


def test_profiled_frame_observes_rows_and_selectivity(spark, sf_dir):
    from pyspark.sql import functions as F

    from docetl_spark import SemanticFrame

    sf = SemanticFrame.read_parquet(spark, f"{sf_dir}/lineitem.parquet").profiled()
    out = (
        sf.where("l_quantity > 25")
        .code_filter("l_discount > 0.05")
        .group_agg(["l_returnflag"], n=F.count(F.lit(1)))
    )
    stats = out.profile_stats()
    assert [s["op"] for s in stats] == ["input", "where", "code_filter", "group_agg"]
    assert stats[0]["rows"] > 0 and stats[0]["selectivity"] is None
    assert all(0 < s["selectivity"] <= 1 for s in stats[1:])
    # observed numbers feed the directive cost model
    ps = out.to_plan_stats()
    assert ps.rows == stats[0]["rows"]
    expected_sel = round(stats[1]["selectivity"] * stats[2]["selectivity"], 3)
    assert round(ps.filter_selectivity, 3) == expected_sel
    assert ps.groups == stats[3]["rows"]
    # an unprofiled frame refuses (no observations were attached)
    import pytest as _pytest

    plain = SemanticFrame.read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    with _pytest.raises(ValueError):
        plain.profile_stats()


ANALYTICS_PIPELINE = {
    "datasets": {
        "events": {
            "type": "memory",
            "data": [
                {"u": 1, "t": 5, "v": 10},
                {"u": 1, "t": 15, "v": 20},
                {"u": 1, "t": 42, "v": 7},
                {"u": 2, "t": 30, "v": 1},
            ],
        }
    },
    "operations": [
        {
            "name": "daily", "type": "gap_fill", "ts_col": "t",
            "keys": ["u"], "bucket_width": 10,
            "aggs": {"n": "count(1)", "s": "sum(v)"}, "locf_cols": ["s"],
        },
    ],
    "pipeline": {
        "steps": [{"name": "grid", "input": "events", "operations": ["daily"]}],
    },
}


def test_analytics_ops_compile_from_yaml_specs(spark):
    """The analytics family is pipeline-spec drivable: aggs travel as
    {name: sql-expression} strings and compile via F.expr."""
    out = run_pipeline(spark, ANALYTICS_PIPELINE)
    rows = {(r["u"], r["bucket_start"]): (r["n"], r["s"], r["s_filled"])
            for r in out.df.collect()}
    assert rows[(1, 20)] == (None, None, 20)   # gap bucket, LOCF carries
    assert rows[(1, 40)] == (1, 7, 7)
    assert len(rows) == 6

    cfg = dict(ANALYTICS_PIPELINE)
    cfg["operations"] = [
        {"name": "twa", "type": "time_weighted_avg", "ts_col": "t",
         "value_col": "v", "keys": ["u"]},
    ]
    cfg["pipeline"] = {
        "steps": [{"name": "s", "input": "events", "operations": ["twa"]}],
    }
    got = {r["u"]: r["twa"] for r in run_pipeline(spark, cfg).df.collect()}
    assert got[2] == 1.0

    cfg["operations"] = [
        {"name": "coh", "type": "cohort_retention", "ts_col": "t",
         "user_col": "u", "period": 10},
    ]
    cfg["pipeline"]["steps"] = [
        {"name": "s", "input": "events", "operations": ["coh"]}]
    cells = {(r["cohort_period"], r["period_offset"]): r["n_active"]
             for r in run_pipeline(spark, cfg).df.collect()}
    assert cells[(0, 0)] == 1 and cells[(30, 0)] == 1

    cfg["operations"] = [
        {"name": "roll", "type": "hopping_rollup", "ts_col": "t",
         "every_ns": 10, "size_ns": 20, "aggs": {"n": "count(1)"}},
    ]
    cfg["pipeline"]["steps"] = [
        {"name": "s", "input": "events", "operations": ["roll"]}]
    hop = run_pipeline(spark, cfg).df
    assert hop.filter("window_start = 10").collect()[0]["n"] == 1

    # bad aggs encoding fails loudly, not silently
    import pytest
    cfg["operations"] = [
        {"name": "bad", "type": "time_rollup", "ts_col": "t",
         "aggs": {"n": 123}},
    ]
    cfg["pipeline"]["steps"] = [
        {"name": "s", "input": "events", "operations": ["bad"]}]
    with pytest.raises(ValueError, match="sql expression"):
        run_pipeline(spark, cfg)


def test_sessionize_and_rolling_from_yaml_specs(spark):
    cfg = {
        "datasets": {"events": {"type": "memory", "data": [
            {"id": 1, "u": "a", "t": 100, "v": 5},
            {"id": 2, "u": "a", "t": 130, "v": 3},
            {"id": 3, "u": "a", "t": 500, "v": 2},
        ]}},
        "operations": [
            {"name": "ses", "type": "sessionize", "keys": ["u"],
             "ts_col": "t", "gap": 100, "tiebreak": "id"},
            {"name": "roll", "type": "rolling_features", "ts_col": "t",
             "keys": ["u"], "value_aggs": {"v_sum": "sum(v)"},
             "lookback_rows": 2, "tiebreak": ["id"]},
        ],
        "pipeline": {"steps": [
            {"name": "s", "input": "events", "operations": ["ses", "roll"]}]},
    }
    rows = {r["id"]: (r["session_id"], r["v_sum"])
            for r in run_pipeline(spark, cfg).df.collect()}
    assert rows == {1: (1, 5), 2: (1, 8), 3: (2, 5)}
