"""The one op table (plans/ir.OP_TYPES): every type the validator
accepts reaches its SemanticFrame verb through compiler.apply_op, a key
the verb does not take raises, and the optimizer and the typed Pipeline
set `model` only on the types that take one."""

import inspect

import pytest

from docetl_spark import FakeBackend, SemanticFrame, run_pipeline
from docetl_spark.operators import equijoin as equijoin_op, resolve as resolve_op, semantic
from docetl_spark.plans import OpSpec, PlanStats, optimize_ops, validate_config
from docetl_spark.plans.compiler import apply_op
from docetl_spark.plans.ir import OP_TYPES, lift

_CODE = "def transform(doc):\n    return {}\n"
# values the validator checks, by key and by type
_KEY_VALUES = {"output": {"schema": {"s": "str"}}, "code": _CODE, "budget": 1}
_TYPE_VALUES = {
    "sample": {"method": "first", "samples": 1},
    "topk": {"method": "fts", "k": 1},
    "split": {"method": "delimiter"},
    "filter": {"output": {"schema": {"keep": "bool"}}},
}


def _minimal_config(t: str) -> dict:
    """The verb's parameters without a default, under their YAML names."""
    op = OP_TYPES[t]
    yaml_name = {"output_schema": "output", **{param: key for key, param in op.renames}}
    params = list(inspect.signature(getattr(SemanticFrame, op.verb or t)).parameters.values())[1:]
    cfg = {"name": "op", "type": t}
    for p in params:
        if p.default is p.empty and p.kind in (p.POSITIONAL_OR_KEYWORD, p.KEYWORD_ONLY):
            key = yaml_name.get(p.name, p.name)
            cfg[key] = _KEY_VALUES.get(key, "x")
    for k in op.datasets:
        cfg[k] = "d"
    for k in op.sql_aggs:
        cfg[k] = {"n": "count(1)"}
    for k in op.tuples:
        cfg[k] = {"n": ["sum", "v"]} if k == "aggs" else [1]
    cfg.update(_TYPE_VALUES.get(t, {}))
    return cfg


# verbs that forward their **kw to an operator function: the forwarded
# keys must be parameters of that function too
_FORWARDS = {
    "map": semantic.semantic_map,
    "filter": semantic.semantic_filter,
    "reduce": semantic.semantic_reduce,
    "resolve": resolve_op.resolve,
    "equijoin": equijoin_op.equijoin,
}


class _Recorder:
    """Stands in for a SemanticFrame: each verb call is bound against the
    real verb's signature (so a key it does not take raises), the keys a
    verb forwards through ``**kw`` against its operator function's, and
    recorded."""

    def __init__(self):
        self.calls = []

    def __getattr__(self, verb):
        sig = inspect.signature(getattr(SemanticFrame, verb))
        var_kw = [p.name for p in sig.parameters.values() if p.kind is p.VAR_KEYWORD]

        def call(*args, **kwargs):
            bound = sig.bind(self, *args, **kwargs)
            if verb in _FORWARDS:
                forwarded = bound.arguments.get(var_kw[0], {}) if var_kw else {}
                inspect.signature(_FORWARDS[verb]).bind_partial(**forwarded)
            self.calls.append(verb)
            return self

        return call


def _pipeline(ops: list[dict], data: list[dict], **extra) -> dict:
    return {
        "datasets": {"d": {"type": "memory", "data": data}},
        "operations": ops,
        "pipeline": {"steps": [{"name": "s", "input": "d",
                                "operations": [o["name"] for o in ops]}]},
        **extra,
    }


@pytest.mark.parametrize("t", sorted(OP_TYPES))
def test_every_validated_type_reaches_its_verb(spark, t):
    cfg = _minimal_config(t)
    errors = [str(i) for i in validate_config(_pipeline([cfg], [{"x": 1}]))
              if i.level == "error"]
    assert errors == []
    rec = _Recorder()
    apply_op(rec, OpSpec(t, {k: v for k, v in cfg.items() if k != "type"}), {"d": rec})
    assert rec.calls == [OP_TYPES[t].verb or t]


@pytest.mark.parametrize("t", sorted(_FORWARDS))
def test_the_recorder_rejects_a_key_only_the_verb_accepts(t):
    """A key the verb's **kw takes but its operator function does not
    fails the recorder, so it fails test_every_validated_type_reaches_its_verb."""
    cfg = {**_minimal_config(t), "not_a_parameter": 1}
    with pytest.raises(TypeError, match="not_a_parameter"):
        apply_op(_Recorder(), OpSpec(t, {k: v for k, v in cfg.items() if k != "type"}),
                 {"d": _Recorder()})


def test_step_boundary_is_not_an_op_type():
    """Step boundaries are pipeline steps; the validator must not accept
    an op type apply_op cannot run."""
    issues = validate_config(_pipeline([{"name": "b", "type": "step_boundary"}], [{"x": 1}]))
    assert any(i.level == "error" and "unknown op type 'step_boundary'" in i.message
               for i in issues)


def test_a_key_the_verb_does_not_take_raises(spark):
    sf = SemanticFrame.from_list(spark, [{"doc": "a", "chunk": "t", "n": 1}])
    spec = OpSpec("gather", {"content_key": "chunk", "doc_id_key": "doc", "order_key": "n",
                             "peripheral_chunk": {"previous": {"tail": {"count": 1}}}})
    with pytest.raises(TypeError, match="peripheral_chunk"):
        apply_op(sf, spec, {})


def test_optimize_sets_model_only_on_ops_that_take_one():
    ops = [
        OpSpec("resolve", {"name": "r", "id_col": "id",
                           "comparison_prompt": "{{ input1.x }} vs {{ input2.x }}",
                           "blocking_keys": ["x"], "output": {"schema": {"x": "str"}}}),
        OpSpec("time_rollup", {"name": "t", "ts_col": "ts", "aggs": {"n": "count(1)"}}),
    ]
    res = optimize_ops(ops, PlanStats())
    for cand in res.frontier:
        assert not [o.type for o in cand.ops if "model" in o.config and not o.takes_model]


def test_optimize_true_runs_ops_that_call_no_model(spark):
    cfg = _pipeline(
        [{"name": "roll", "type": "time_rollup", "ts_col": "ts", "aggs": {"n": "count(1)"}}],
        [{"ts": 0, "v": 1}, {"ts": 3600, "v": 2}],
        optimize=True,
    )
    rows = run_pipeline(spark, cfg, backend=FakeBackend()).collect()
    assert [r["n"] for r in rows if r["grain"] == "all"] == [2]


def test_optimized_map_reduce_runs(spark):
    """Directive markers on a rewritten op (map_reduce_fusion's
    `_compressed_inputs`) are planner keys: they never reach the verb."""
    cfg = _pipeline(
        [{"name": "m", "type": "map", "prompt": "Summarize {{ input.text }}",
          "output": {"schema": {"s": "str"}}},
         {"name": "r", "type": "reduce", "reduce_key": "g", "prompt": "Combine {{ inputs }}",
          "output": {"schema": {"total": "str"}}}],
        [{"g": "a", "text": "x y"}, {"g": "b", "text": "z"}],
        optimize=True,
    )
    out = run_pipeline(spark, cfg, backend=FakeBackend())
    assert "directive:map_reduce_fusion" in dict(out.op_log)["rewrites"]["fired"]
    assert len(out.collect()) == 2


def test_default_model_reaches_only_ops_that_take_a_model(spark):
    from docetl_spark import Dataset, MapOp, Pipeline, PipelineStep, SampleOp

    p = Pipeline(
        name="default_model",
        datasets={"d": Dataset(type="memory", data=[{"text": "a"}, {"text": "b"}])},
        operations=[
            MapOp(name="m", prompt="Echo {{ input.text }}", output={"schema": {"s": "str"}}),
            SampleOp(name="head", method="first", samples=1, order_by=["text"]),
        ],
        steps=[PipelineStep(name="s", input="d", operations=["m", "head"])],
        default_model="gpt-4o-mini",
    )
    ops = {o["name"]: o for o in p._runnable_config()["operations"]}
    assert ops["m"]["model"] == "gpt-4o-mini" and "model" not in ops["head"]
    assert len(p.run(spark, backend=FakeBackend()).collect()) == 1


def test_optimize_for_accuracy_runs_map_reduce(spark):
    """The accuracy objective picks reduce_gleaning; the gleaning it is
    credited for runs: one judge call per group on top of the reduce."""
    from docetl_spark.resilience import BackendMetrics, ResilientBackend

    ops = [{"name": "m", "type": "map", "prompt": "Summarize {{ input.text }}",
            "output": {"schema": {"s": "str"}}},
           {"name": "r", "type": "reduce", "reduce_key": "g", "prompt": "Combine {{ inputs }}",
            "output": {"schema": {"total": "str"}}}]
    data = [{"g": "a", "text": "x y"}, {"g": "b", "text": "z"}]
    out = run_pipeline(spark, _pipeline(ops, data, optimize={"objective": "accuracy"}),
                       backend=FakeBackend())
    assert "directive:reduce_gleaning" in dict(out.op_log)["rewrites"]["fired"]
    assert sorted(r["g"] for r in out.collect()) == ["a", "b"]

    def calls(reduce_cfg: dict) -> int:
        metrics = BackendMetrics(spark.sparkContext)
        be = ResilientBackend(FakeBackend(), cache_size=0, metrics=metrics)
        run_pipeline(spark, _pipeline([{**ops[1], **reduce_cfg}], data), backend=be).collect()
        return metrics.calls.value

    glean = {"num_rounds": 1, "validation_prompt": "Is {{ output.total }} complete?"}
    assert calls({"gleaning": glean}) == calls({}) + 2


def test_chunk_header_summary_plan_runs(spark):
    """chunk_header_summary's meta map writes the {header, level} list
    that gather's doc_header_key reads; the rewritten plan renders
    header breadcrumbs and middle-chunk summaries."""
    from docetl_spark.plans.directives import DIRECTIVES

    ops = [{"name": "sp", "type": "split", "split_key": "text", "method": "token_count",
            "method_kwargs": {"num_tokens": 4}},
           {"name": "g", "type": "gather", "content_key": "text_chunk", "doc_id_key": "sp_id",
            "order_key": "sp_chunk_num",
            "peripheral_chunks": {"previous": {"tail": {"count": 1}}}}]
    rewrite = next(d for d in DIRECTIVES if d.name == "chunk_header_summary")
    rewritten = rewrite.apply(lift(ops), 0, PlanStats(), None)
    assert [o.type for o in rewritten] == ["split", "map", "gather"]

    def headers(row):
        if row["sp_chunk_num"] == 1:
            return [{"header": "Intro", "level": 1}, {"header": "Scope", "level": 2}]
        return [{"header": "Detail", "level": 2}]

    text = " ".join(f"w{i}" for i in range(16))
    cfg = _pipeline([{"type": o.type, **o.config} for o in rewritten], [{"text": text}])
    rows = run_pipeline(spark, cfg, backend=FakeBackend(rules={"headers": headers})).collect()
    rendered = [r["text_chunk_rendered"] for r in sorted(rows, key=lambda r: r["sp_chunk_num"])]
    assert len(rendered) > 2 and "_Current Section:_" not in rendered[0]
    assert "_Current Section:_ # Intro\n" in rendered[1]
    assert "[Chunk 3 (Summary)]" in rendered[1]


def test_clarify_instructions_rewrites_only_a_prompt_key():
    """resolve's prompt is `comparison_prompt`: clarify_instructions
    must not write a `prompt` key the verb does not take."""
    from docetl_spark.plans.directives import DIRECTIVES

    agent = FakeBackend(rules={"confident": lambda ctx: True,
                               "prompt": lambda ctx: "Be precise."})
    clarify = next(d for d in DIRECTIVES if d.name == "clarify_instructions")
    ops = lift([{"name": "rs", "type": "resolve", "id_col": "id",
                 "comparison_prompt": "{{ input1.x }} vs {{ input2.x }}",
                 "output": {"schema": {"x": "str"}}},
                {"name": "m", "type": "map", "prompt": "x {{ input.x }}",
                 "output": {"schema": {"s": "str"}}}])
    assert not clarify.applies(ops, 0, PlanStats(), agent)
    assert clarify.applies(ops, 1, PlanStats(), agent)


def test_typed_ops_are_table_types(spark):
    """Every typed op class names a table type; a typed web_search runs."""
    from docetl_spark import Dataset, Pipeline, PipelineStep, WebSearchOp

    assert set(Pipeline._OP_TYPE_REGISTRY) <= set(OP_TYPES)
    p = Pipeline(
        name="search",
        datasets={"d": Dataset(type="memory", data=[{"q": "spark"}])},
        operations=[WebSearchOp(name="s", query_col="q", output_col="hits",
                                fetch_fn=lambda q, n: [{"title": q, "description": "", "url": "u"}])],
        steps=[PipelineStep(name="s", input="d", operations=["s"])],
    )
    assert p.syntax_check() == []
    assert [h["title"] for h in p.run(spark, backend=FakeBackend()).collect()[0]["hits"]] == ["spark"]
