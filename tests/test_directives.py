"""Directive optimizer (plans/directives.py): cost model, Pareto search,
directive instantiation, and the run_pipeline `optimize` hook
(reference: moar/MOARSearch.py, moar/ParetoFrontier.py, SURVEY §4.3)."""

import pytest

from docetl_spark import FakeBackend, run_pipeline
from docetl_spark.plans import PlanStats, estimate_cost, lift, optimize_ops
from docetl_spark.plans.directives import Candidate, pareto_insert


def _ops(avg_tokens_irrelevant=True):
    return lift([
        {"type": "map", "name": "m", "prompt": "summarize {{ input.text }}",
         "output": {"schema": {"summary": "str"}}},
        {"type": "filter", "name": "f", "prompt": "keep? {{ input.summary }}",
         "output": {"schema": {"keep": "bool"}}},
        {"type": "reduce", "name": "r", "reduce_key": "lang",
         "prompt": "agg {{ inputs }}", "output": {"schema": {"n": "int"}}},
    ])


def test_cascade_lowers_cost_sampling_lowers_quality():
    stats = PlanStats(rows=1000, avg_doc_tokens=500)
    res = optimize_ops(_ops(), stats)
    base = next(c for c in res.frontier if not c.applied)
    cascaded = next(c for c in res.frontier if c.applied == (("cascade_filtering", 1),))
    assert cascaded.cost < base.cost  # proxy calls are cheaper
    assert cascaded.quality < base.quality  # ...at a small accuracy cost


def test_doc_chunking_gates_on_length():
    from docetl_spark.plans.directives import DIRECTIVES

    d = next(d for d in DIRECTIVES if d.name == "doc_chunking")
    short = optimize_ops(_ops(), PlanStats(rows=100, avg_doc_tokens=300))
    assert not any("doc_chunking" in dict(c.applied) for c in short.frontier)
    # on long docs the directive fires and produces the 4-op chunk plan
    # (frontier survival is not guaranteed once cheaper retrieval-style
    # rewrites exist — check the rewrite itself)
    ops = _ops()
    stats = PlanStats(rows=100, avg_doc_tokens=5000)
    assert d.applies(ops, 0, stats, None)
    out = d.apply(ops, 0, stats, None)
    types = [o.type for o in out]
    i = types.index("split")
    assert types[i : i + 4] == ["split", "gather", "map", "reduce"]


def test_frontier_is_pareto():
    res = optimize_ops(_ops(), PlanStats(rows=1000, avg_doc_tokens=2500))
    f = res.frontier
    for a in f:
        for b in f:
            if a is not b:
                assert not (a.cost <= b.cost and a.quality >= b.quality
                            and (a.cost < b.cost or a.quality > b.quality))


def test_pareto_insert_drops_dominated():
    frontier = [Candidate([], 10.0, 0.5)]
    assert pareto_insert(frontier, Candidate([], 5.0, 0.6))  # dominates
    assert len(frontier) == 1 and frontier[0].cost == 5.0
    assert not pareto_insert(frontier, Candidate([], 6.0, 0.5))  # dominated
    assert pareto_insert(frontier, Candidate([], 6.0, 0.7))  # tradeoff


def test_swap_with_code_requires_confident_agent():
    confident = FakeBackend(rules={
        "python_code": lambda ctx: "def transform(doc):\n    return {'summary': doc['text'][:3]}",
        "confident": lambda ctx: True,
    })
    res = optimize_ops(_ops(), PlanStats(rows=1000, avg_doc_tokens=500), backend=confident)
    swapped = [c for c in res.frontier if "swap_with_code" in dict(c.applied)]
    assert swapped and any(o.type == "code_map" for o in swapped[0].ops)

    declined = FakeBackend(rules={"python_code": lambda ctx: "", "confident": lambda ctx: False})
    res2 = optimize_ops(_ops(), PlanStats(rows=1000, avg_doc_tokens=500), backend=declined)
    assert not any("swap_with_code" in dict(c.applied) for c in res2.frontier)


def test_estimate_cost_propagates_cardinality():
    stats = PlanStats(rows=1000, avg_doc_tokens=1000, filter_selectivity=0.5)
    ops = _ops()
    base = estimate_cost(ops, stats)
    # filter-first ordering halves what the reduce sees -> cheaper
    reordered = [ops[1], ops[0], ops[2]]
    assert estimate_cost(reordered, stats) < base


def test_run_pipeline_optimize_hook(spark):
    config = {
        "optimize": {"objective": "cost", "stats": {"rows": 10, "avg_doc_tokens": 50}},
        "datasets": {"d": {"type": "memory", "data": [
            {"id": 1, "text": "alpha fast join"},
            {"id": 2, "text": "beta slow"},
        ]}},
        "operations": [
            {"name": "keep", "type": "filter", "prompt": "contains 'join'? {{ input.text }}",
             "output": {"schema": {"keep": "bool"}}},
        ],
        "pipeline": {"steps": [{"name": "s1", "input": "d", "operations": ["keep"]}]},
    }
    out = run_pipeline(spark, config, backend=FakeBackend())
    log = dict(out.op_log).get("rewrites", {})
    assert any(r.startswith("directive:") for r in log.get("fired", []))
    assert out.df.count() >= 0  # executable end-to-end after rewriting


# --------------------------------------------- round-2 directive catalog

def _apply_named(name, ops, stats=None, i=None):
    from docetl_spark.plans.directives import DIRECTIVES

    d = next(d for d in DIRECTIVES if d.name == name)
    stats = stats or PlanStats()
    positions = [i] if i is not None else range(len(ops))
    for pos in positions:
        if d.applies(ops, pos, stats, None):
            return d.apply(ops, pos, stats, None), pos
    return None, None


def test_operator_fusion_map_map():
    ops = lift([
        {"type": "map", "name": "a", "prompt": "extract entities {{ input.text }}",
         "output": {"schema": {"entities": "list[str]"}}},
        {"type": "map", "name": "b", "prompt": "classify urgency {{ input.text }}",
         "output": {"schema": {"urgency": "str"}}},
    ])
    new, _ = _apply_named("operator_fusion", ops)
    assert new is not None and len(new) == 1
    fused = new[0]
    assert fused.type == "map" and fused.config["_fused"]
    schema = fused.config["output"]["schema"]
    assert set(schema) == {"entities", "urgency"}
    assert "extract entities" in fused.config["prompt"] and "classify urgency" in fused.config["prompt"]


def test_operator_fusion_map_filter_blocked_by_downstream_read():
    # downstream reduce reads the map's output: fusing would lose it
    ops = lift([
        {"type": "map", "name": "a", "prompt": "sentiment {{ input.text }}",
         "output": {"schema": {"sentiment": "str"}}},
        {"type": "filter", "name": "f", "prompt": "keep? {{ input.sentiment }}",
         "output": {"schema": {"keep": "bool"}}},
        {"type": "reduce", "name": "r", "reduce_key": "lang",
         "prompt": "count {{ input.sentiment }}", "output": {"schema": {"n": "int"}}},
    ])
    new, _ = _apply_named("operator_fusion", ops, i=0)
    assert new is None
    # the filter READING the map's output also blocks fusion: in the
    # fused single pass `sentiment` doesn't exist when the prompt renders
    new2, _ = _apply_named("operator_fusion", ops[:2], i=0)
    assert new2 is None
    # independent map+filter (filter reads only source fields) DOES fuse
    indep = lift([
        {"type": "map", "name": "a", "prompt": "sentiment {{ input.text }}",
         "output": {"schema": {"sentiment": "str"}}},
        {"type": "filter", "name": "f", "prompt": "keep? {{ input.text }}",
         "output": {"schema": {"keep": "bool"}}},
    ])
    new3, _ = _apply_named("operator_fusion", indep, i=0)
    assert new3 is not None and len(new3) == 1 and new3[0].type == "filter"


def test_map_reduce_fusion_rewrites_reduce_inputs():
    ops = lift([
        {"type": "map", "name": "m", "prompt": "classify {{ input.content }}",
         "output": {"schema": {"orgs": "list[str]"}}},
        {"type": "reduce", "name": "r", "reduce_key": "category",
         "prompt": "extract orgs from {{ input.content }}",
         "output": {"schema": {"all_orgs": "list[str]"}}},
    ])
    new, _ = _apply_named("map_reduce_fusion", ops)
    assert new is not None and [o.type for o in new] == ["map", "reduce"]
    assert "input.orgs" in new[1].config["prompt"]
    assert new[1].config["_compressed_inputs"]
    # fused reduce is cheaper than the original at the same stats
    stats = PlanStats(rows=1000, avg_doc_tokens=3000)
    assert estimate_cost(new, stats) < estimate_cost(ops, stats)


def test_doc_compression_inserts_extract():
    ops = lift([
        {"type": "map", "name": "m", "prompt": "analyze {{ input.legal_document }}",
         "output": {"schema": {"impact": "str"}}},
    ])
    stats = PlanStats(avg_doc_tokens=5000)
    new, _ = _apply_named("doc_compression", ops, stats)
    assert new is not None and [o.type for o in new] == ["extract", "map"]
    assert new[0].config["document_keys"] == ["legal_document"]
    assert "input.legal_document_extracted" in new[1].config["prompt"]
    # short docs: not applicable
    none, _ = _apply_named("doc_compression", ops, PlanStats(avg_doc_tokens=300))
    assert none is None


def test_doc_summarization_prepends_cheap_map():
    ops = lift([
        {"type": "map", "name": "m1", "prompt": "a {{ input.transcript }}",
         "output": {"schema": {"x": "str"}}},
        {"type": "map", "name": "m2", "prompt": "b {{ input.transcript }}",
         "output": {"schema": {"y": "str"}}},
    ])
    stats = PlanStats(rows=500, avg_doc_tokens=4000)
    new, _ = _apply_named("doc_summarization", ops, stats)
    assert new is not None and len(new) == 3
    head = new[0]
    assert head.type == "map" and head.config["output"]["schema"] == {"transcript": "str"}
    assert head.config["_shrinks_tokens"] == 0.25
    # both downstream maps now read the shrunken doc: net cheaper
    assert estimate_cost(new, stats) < estimate_cost(ops, stats)


def test_hierarchical_reduce_two_levels():
    ops = lift([
        {"type": "reduce", "name": "r", "reduce_key": "state",
         "prompt": "summarize {{ inputs }}", "output": {"schema": {"summary": "str"}}},
    ])
    stats = PlanStats(rows=10_000, groups=10)  # 1000 docs/group
    new, _ = _apply_named("hierarchical_reduce", ops, stats)
    assert new is not None and [o.type for o in new] == ["code_map", "reduce", "reduce"]
    level1, level2 = new[1], new[2]
    assert level1.config["reduce_key"] == ["state", "_r_bucket"]
    assert level1.config["_sub_groups"] == 8
    assert level2.config["reduce_key"] == "state"
    # small groups: not worth two levels
    none, _ = _apply_named("hierarchical_reduce", ops, PlanStats(rows=100, groups=10))
    assert none is None


def test_reduce_gleaning_adds_validation_loop():
    ops = lift([
        {"type": "reduce", "name": "r", "reduce_key": "lang",
         "prompt": "agg {{ inputs }}", "output": {"schema": {"n": "int"}}},
    ])
    new, _ = _apply_named("reduce_gleaning", ops)
    assert new is not None and new[0].config["gleaning"]["num_rounds"] == 1
    stats = PlanStats(rows=1000)
    assert estimate_cost(new, stats) > estimate_cost(ops, stats)  # judge calls cost


def test_new_directives_reachable_in_search():
    ops = lift([
        {"type": "map", "name": "m", "prompt": "x {{ input.text }}",
         "output": {"schema": {"s": "str"}}},
        {"type": "reduce", "name": "r", "reduce_key": "lang",
         "prompt": "agg {{ input.text }}", "output": {"schema": {"n": "int"}}},
    ])
    res = optimize_ops(ops, PlanStats(rows=10_000, groups=20, avg_doc_tokens=5000), max_depth=2)
    fired = {name for c in res.frontier for name, _ in c.applied}
    assert len(fired) >= 3  # multiple distinct directives on the frontier
    assert {"map_reduce_fusion", "doc_summarization", "reduce_gleaning",
            "deterministic_doc_compression", "doc_chunking_topk", "chaining",
            "reduce_chaining", "take_head_tail", "change_model_acc"} & fired


# ------------------------------------------------------- round-2 batch
def _apply(name, ops, i, stats=None, be=None):
    from docetl_spark.plans.directives import DIRECTIVES
    d = next(d for d in DIRECTIVES if d.name == name)
    stats = stats or PlanStats(avg_doc_tokens=5000)
    assert d.applies(ops, i, stats, be), f"{name} not applicable at {i}"
    return d.apply(ops, i, stats, be)


def test_chaining_decomposes_map():
    ops = _ops()
    out = _apply("chaining", ops, 0)
    assert [o.type for o in out[:2]] == ["map", "map"]
    assert out[0].config["output"]["schema"] == {"result": "str"}
    assert "input.result" in out[1].config["prompt"]
    # fires once: the rewritten map is marked
    from docetl_spark.plans.directives import DIRECTIVES
    d = next(d for d in DIRECTIVES if d.name == "chaining")
    assert not d.applies(out, 1, PlanStats(avg_doc_tokens=5000), None)


def test_isolating_subtasks_parallelizes_fields():
    ops = lift([{"type": "map", "name": "m", "prompt": "x {{ input.text }}",
                 "output": {"schema": {"a": "str", "b": "str", "c": "int"}}}])
    out = _apply("isolating_subtasks", ops, 0)
    assert out[0].type == "parallel_map"
    assert len(out[0].config["prompts"]) == 3
    assert out[1].type == "map" and out[1].config["_isolated"]
    # per-field calls cost more than the single map, quality higher
    stats = PlanStats(rows=100, avg_doc_tokens=500)
    from docetl_spark.plans import estimate_quality
    assert estimate_cost(out, stats) > estimate_cost(ops, stats)


def test_reduce_chaining_preextracts():
    ops = _ops()
    out = _apply("reduce_chaining", ops, 2)
    assert out[2].type == "map" and out[3].type == "reduce"
    assert out[3].config["_compressed_inputs"] is True
    assert "input.result" not in ops[2].config["prompt"]  # original untouched


def test_chunk_header_summary_upgrades_gather():
    ops = lift([
        {"type": "split", "name": "sp", "split_key": "text", "method": "token_count",
         "method_kwargs": {"num_tokens": 200}},
        {"type": "gather", "content_key": "text_chunk", "doc_id_key": "sp_id",
         "order_key": "sp_chunk_num",
         "peripheral_chunks": {"previous": {"tail": {"count": 1}}}},
    ])
    out = _apply("chunk_header_summary", ops, 0)
    assert [o.type for o in out] == ["split", "map", "gather"]
    assert out[2].config["doc_header_key"] == "headers"
    assert out[2].config["peripheral_chunks"]["previous"]["middle"]["content_key"] == "text_chunk_summary"


def test_deterministic_doc_compression_is_free_and_runs():
    ops = _ops()
    out = _apply("deterministic_doc_compression", ops, 0)
    assert out[0].type == "code_map"
    stats = PlanStats(rows=100, avg_doc_tokens=5000)
    assert estimate_cost(out, stats) < estimate_cost(ops, stats)  # shrink, no new calls
    # the generated code actually compresses: keyword line kept, noise dropped
    ns = {}
    exec(out[0].config["code"], ns)
    doc = {"text": "irrelevant preamble\nplease summarize this part\nmore noise\nfiller\nend"}
    res = ns["transform"](doc)
    assert "summarize" in res["text"] and "filler" not in res["text"]


def test_doc_chunking_topk_builds_retrieval_pipeline():
    ops = lift([{"type": "filter", "name": "f", "prompt": "mentions liability {{ input.text }}",
                 "output": {"schema": {"keep": "bool"}}}])
    out = _apply("doc_chunking_topk", ops, 0)
    assert [o.type for o in out] == ["split", "topk", "reduce", "code_filter"]
    assert out[1].config["stratify_key"] == "f_split_id"
    stats = PlanStats(rows=1000, avg_doc_tokens=5000)
    assert estimate_cost(out, stats) < estimate_cost(ops, stats)


def test_map_resolve_to_categories_needs_confident_agent():
    ops = lift([
        {"type": "map", "name": "m", "prompt": "company type of {{ input.text }}",
         "output": {"schema": {"kind": "str"}}},
        {"type": "resolve", "comparison_prompt": "same? {{ input1.kind }} {{ input2.kind }}"},
    ])
    shy = FakeBackend(rules={"confident": lambda ctx: False})
    assert _apply("map_resolve_to_map_with_categories", ops, 0, be=shy) is None
    sure = FakeBackend(rules={"confident": lambda ctx: True,
                              "categories": lambda ctx: ["llc", "corp"]})
    out = _apply("map_resolve_to_map_with_categories", ops, 0, be=sure)
    assert len(out) == 1 and "EXACTLY one of: llc, corp" in out[0].config["prompt"]


def test_map_to_map_resolve_reduce_shape():
    ops = lift([
        {"type": "map", "name": "m", "prompt": "entity {{ input.text }}",
         "output": {"schema": {"lang": "str"}}},
        {"type": "reduce", "name": "r", "reduce_key": "lang",
         "prompt": "agg {{ inputs }}", "output": {"schema": {"n": "int"}}},
    ])
    out = _apply("map_to_map_resolve_reduce", ops, 0)
    assert [o.type for o in out] == ["map", "add_uuid", "resolve", "reduce"]
    assert out[2].config["blocking_keys"] == ["lang"]
    assert out[2].config["id_col"] == out[1].config["id_key"]  # minted row id wired in
    # no re-fire: the next op after the map is now a resolve
    from docetl_spark.plans.directives import DIRECTIVES
    d = next(d for d in DIRECTIVES if d.name == "map_to_map_resolve_reduce")
    assert not d.applies(out, 0, PlanStats(), None)


def test_clarify_and_arbitrary_gate_on_agent():
    import json
    ops = _ops()
    be = FakeBackend(rules={
        "confident": lambda ctx: True,
        "prompt": lambda ctx: "Be precise about {{ input.text }}.",
        "pipeline_json": lambda ctx: json.dumps(
            [{"type": "map", "config": {"name": "m2", "prompt": "z {{ input.text }}",
              "output": {"schema": {"n": "int"}}}}]),
    })
    out = _apply("clarify_instructions", ops, 0, be=be)
    assert out[0].config["_clarified"] and out[0].config["prompt"].startswith("Be precise")
    out2 = _apply("arbitrary_rewrite", ops, 0, be=be)
    assert [o.type for o in out2] == ["map"]  # terminal schema keys match ({'n'})
    # schema-breaking rewrites are rejected
    be_bad = FakeBackend(rules={"confident": lambda ctx: True,
                                "pipeline_json": lambda ctx: json.dumps(
                                    [{"type": "map", "config": {"output": {"schema": {"other": "str"}}}}])})
    assert _apply("arbitrary_rewrite", ops, 0, be=be_bad) is None


def test_change_model_heuristic_direction():
    short = lift([{"type": "map", "name": "m", "prompt": "x {{ input.t }}",
                   "output": {"schema": {"s": "str"}}, "model": "gpt-4o"}])
    out = _apply("change_model", short, 0, PlanStats())
    assert out[0].config["model"] == "gpt-4o-mini"  # short prompt -> cheaper
    long = lift([{"type": "map", "name": "m", "prompt": "y" * 300,
                  "output": {"schema": {"s": "str"}}, "model": "gpt-4o-mini"}])
    out2 = _apply("change_model", long, 0, PlanStats())
    assert out2[0].config["model"] == "gpt-4o"  # long prompt -> stronger


def test_catalog_is_complete():
    """All 24 reference directive names plus the engine's additions
    (synthesize_blocking — the JoinOptimizer front half, round 9)."""
    from docetl_spark.plans.directives import DIRECTIVES
    names = {d.name for d in DIRECTIVES}
    assert len(names) == 25
    assert "synthesize_blocking" in names


def test_moar_search_improves_on_root():
    from docetl_spark.plans import moar_search

    stats = PlanStats(rows=1000, avg_doc_tokens=5000)
    res = moar_search(_ops(), stats, max_iterations=15)
    assert res.explored > 1
    base = estimate_cost(_ops(), stats)
    assert min(c.cost for c in res.frontier) < base
    # frontier is Pareto-consistent
    for a in res.frontier:
        for b in res.frontier:
            if a is not b:
                assert not (a.cost <= b.cost and a.quality >= b.quality
                            and (a.cost < b.cost or a.quality > b.quality))


def test_moar_search_uses_empirical_evaluator_and_agent_ranking():
    from docetl_spark.plans import moar_search

    calls = []

    def evaluate(ops):
        calls.append(len(ops))
        return float(len(ops)), 0.5  # "cost" = op count

    ranked = []
    be = FakeBackend(rules={"order": lambda ctx: (ranked.append(1) or [0, 1])})
    res = moar_search(_ops(), PlanStats(avg_doc_tokens=5000), backend=be,
                      evaluate=evaluate, max_iterations=6, expand_width=2)
    assert len(calls) >= 2  # simulation phase ran the evaluator
    assert ranked  # expansion consulted the agent
    assert res.frontier


def test_moar_empirical_pipeline_hook(spark):
    # optimize.method=moar with empirical=true: candidates execute on a
    # sample and cost = MEASURED backend calls, so cheaper plans (e.g.
    # cascade / code-swap) win on real counts, not model guesses.
    config = {
        "optimize": {"method": "moar", "empirical": True, "sample_rows": 6,
                     "max_iterations": 4, "objective": "cost",
                     "stats": {"rows": 12, "avg_doc_tokens": 50}},
        "datasets": {"d": {"type": "memory", "data": [
            {"id": i, "text": f"doc {i} fast join"} for i in range(12)
        ]}},
        "operations": [
            {"name": "keep", "type": "filter", "prompt": "mentions 'join'? {{ input.text }}",
             "output": {"schema": {"keep": "bool"}}},
        ],
        "pipeline": {"steps": [{"name": "s1", "input": "d", "operations": ["keep"]}]},
    }
    out = run_pipeline(spark, config, backend=FakeBackend())
    # directives are NOT equivalence-preserving (a winning cascade may
    # trade rows away) — assert the optimized plan EXECUTED end-to-end
    assert 0 <= out.df.count() <= 12
    log = dict(out.op_log).get("rewrites", {})
    assert "fired" in log  # optimizer ran (directive list may be empty if root won)


def test_agent_instantiation_fills_directive_config():
    """agent_instantiate: the backend rewrites a directive's draft config
    via structured output (reference directives/README.md:35-40), and
    the agent-filled candidate enters the Pareto frontier; malformed or
    declining agents fall back to the deterministic draft."""
    import json

    def fill(ctx):
        # refine whatever the directive drafted: bump cascade threshold
        drafts = ctx["drafts"]
        out = []
        for d in drafts:
            cfg = dict(d["config"])
            if "cascade" in cfg:
                cfg["cascade"] = {"proxy_threshold": 0.7}
                out.append({"index": d["index"], "config": cfg})
        return json.dumps(out)

    agent = FakeBackend(rules={"configs_json": fill, "use_draft": lambda ctx: False})
    res = optimize_ops(
        _ops(), PlanStats(rows=1000, avg_doc_tokens=500),
        backend=agent, agent_instantiation=True,
    )
    cascaded = [c for c in res.frontier if "cascade_filtering" in dict(c.applied)]
    assert cascaded
    tuned = [
        o for c in cascaded for o in c.ops
        if o.config.get("cascade") == {"proxy_threshold": 0.7}
    ]
    assert tuned, "agent-filled cascade config should reach the frontier"

    # declining agent -> deterministic draft (proxy_threshold 0.9)
    decliner = FakeBackend(rules={"configs_json": lambda ctx: "", "use_draft": lambda ctx: True})
    res2 = optimize_ops(
        _ops(), PlanStats(rows=1000, avg_doc_tokens=500),
        backend=decliner, agent_instantiation=True,
    )
    drafted = [
        o for c in res2.frontier if "cascade_filtering" in dict(c.applied)
        for o in c.ops if o.config.get("cascade") == {"proxy_threshold": 0.9}
    ]
    assert drafted

    # malformed JSON -> deterministic draft, never an exception
    broken = FakeBackend(rules={"configs_json": lambda ctx: "{not json", "use_draft": lambda ctx: False})
    res3 = optimize_ops(
        _ops(), PlanStats(rows=1000, avg_doc_tokens=500),
        backend=broken, agent_instantiation=True,
    )
    assert any("cascade_filtering" in dict(c.applied) for c in res3.frontier)


def test_moar_agent_instantiation():
    import json

    from docetl_spark.plans import moar_search

    def fill(ctx):
        out = []
        for d in ctx["drafts"]:
            cfg = dict(d["config"])
            if "gleaning" in cfg:
                cfg["gleaning"] = {"num_rounds": 2, "validation_prompt": "check it"}
                out.append({"index": d["index"], "config": cfg})
        return json.dumps(out)

    agent = FakeBackend(rules={"configs_json": fill, "use_draft": lambda ctx: False,
                               "order": lambda ctx: []})
    res = moar_search(
        _ops(), PlanStats(rows=1000, avg_doc_tokens=500),
        backend=agent, max_iterations=12, agent_instantiation=True,
    )
    tuned = [
        o for c in res.frontier for o in c.ops
        if o.config.get("gleaning", {}).get("num_rounds") == 2
    ]
    assert tuned, "agent-tuned gleaning config should appear in the MOAR frontier"


def test_should_optimize_probe(spark):
    from docetl_spark.plans.directives import should_optimize
    from docetl_spark.plans.ir import OpSpec

    outputs = spark.createDataFrame(
        [{"doc_id": i, "summary": "entity extraction plus synthesis"} for i in range(30)]
    )
    op = OpSpec("map", {
        "name": "extract_and_summarize",
        # FakeBackend bool rule: quoted keyword present in the sample text
        "prompt": "Extract every 'entity' and also synthesize a summary",
        "output": {"schema": {"summary": "string"}},
    })
    v = should_optimize(op, outputs, FakeBackend())
    assert v.should_optimize and v.num_docs_analyzed == 20
    assert v.rationale  # non-empty when optimizing is recommended

    # keyword absent from outputs -> conservative "leave it alone"
    op2 = OpSpec("map", {
        "name": "simple", "prompt": "Classify 'zzznope' sentiment",
        "output": {"schema": {"summary": "string"}},
    })
    v2 = should_optimize(op2, outputs, FakeBackend())
    assert not v2.should_optimize and v2.rationale == "" and v2.suggested_improvements == []

    # unsupported op type raises (reference parity: map-shaped only)
    with pytest.raises(ValueError):
        should_optimize(OpSpec("reduce", {}), outputs, FakeBackend())

    # empty outputs -> no-op verdict without a model call
    empty = outputs.limit(0)
    v3 = should_optimize(op, empty, FakeBackend())
    assert not v3.should_optimize and v3.num_docs_analyzed == 0


def test_per_op_optimize_false_pins_op():
    """`optimize: false` on an op config (the reference's per-op build
    flag) excludes it from every directive application in both searches."""
    from docetl_spark.plans import PlanStats, moar_search, optimize_ops
    from docetl_spark.plans.ir import OpSpec

    ops = [OpSpec("map", {
        "name": "m", "prompt": "Extract a summary and entities and topics",
        "output": {"schema": {"s": "string"}}, "optimize": False,
    })]
    stats = PlanStats(rows=1000, avg_doc_tokens=2000)
    res = optimize_ops(ops, stats)
    assert len(res.frontier) == 1 and res.frontier[0].applied == ()
    res2 = moar_search(ops, stats, max_iterations=6)
    assert all(c.applied == () for c in res2.frontier)

    # sanity: without the pin the same op DOES attract rewrites
    ops_free = [OpSpec("map", {**ops[0].config, "optimize": True})]
    assert optimize_ops(ops_free, stats).explored > 1


def test_frame_should_optimize_probe(spark):
    from docetl_spark import FakeBackend, SemanticFrame

    docs = SemanticFrame.read_parquet(
        spark, "/root/testdata/sf0.001/documents.parquet",
        backend=FakeBackend(),
    )
    mapped = docs.map("Extract 'the' entities and a summary", {"s": "string"})
    v = mapped.should_optimize()
    assert v.num_docs_analyzed == 20 and isinstance(v.should_optimize, bool)

    import pytest

    with pytest.raises(ValueError, match="map/filter"):
        docs.should_optimize()


def test_should_optimize_reduce_flags_and_clears(spark):
    from docetl_spark import FakeBackend, SemanticFrame
    from docetl_spark.plans.directives import should_optimize, should_optimize_reduce
    from docetl_spark.plans.ir import lift

    op = lift([{"type": "reduce", "name": "summ", "reduce_key": "g",
                "prompt": "Summarize {{ inputs }}",
                "output": {"schema": {"summary": "str"}}}])[0]
    rows = [{"g": "a", "t": "x"}, {"g": "a", "t": "y"}, {"g": "b", "t": "z"}]
    inputs = spark.createDataFrame(rows)
    outputs = spark.createDataFrame([{"g": "a", "summary": "s1"},
                                     {"g": "b", "summary": "s2"}])

    # validator that always finds issues -> needs improvement
    be_bad = FakeBackend(rules={
        "validator_prompt": lambda ctx: "Judge the output.",
        "issues": lambda ctx: ["missing detail"],
        "suggestions": lambda ctx: ["decompose"],
    })
    v = should_optimize_reduce(op, inputs, outputs, be_bad)
    assert v.should_optimize and "missing detail" in v.rationale
    assert v.num_docs_analyzed == 2 and v.suggested_improvements == ["decompose", "decompose"]

    # clean validator -> no
    be_ok = FakeBackend(rules={
        "validator_prompt": lambda ctx: "Judge the output.",
        "issues": lambda ctx: [],
        "suggestions": lambda ctx: [],
    })
    v2 = should_optimize_reduce(op, inputs, outputs, be_ok)
    assert not v2.should_optimize and v2.rationale == ""

    # the fast probe routes reduce ops away with a pointer
    with pytest.raises(ValueError, match="should_optimize_reduce"):
        should_optimize(op, outputs, be_ok)
