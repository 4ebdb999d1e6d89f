"""Directive-based plan optimizer: cost/accuracy rewrites over op lists.

The reference's offline optimizers (SURVEY.md §4.3) search a library of
config→config rewrite directives with a Pareto frontier over
(cost, accuracy): the MOAR reasoning optimizer
(/root/reference/docetl/moar/MOARSearch.py:30-235,
moar/ParetoFrontier.py; directive catalog
reasoning_optimizer/directives/README.md) and the legacy per-op agents
(optimizers/map_optimizer, reduce_optimizer, join_optimizer).

This module ports the *mechanism* — typed directives, deterministic
applicability checks, a cost model, Pareto search — without the LLM
agent in the loop by default: each directive instantiates from explicit
config/stats, and the one agentic directive (``swap_with_code``) only
fires when a backend is supplied and returns a confident structured
answer. Directives are NOT equivalence-preserving (they trade accuracy
for cost or vice versa, exactly like the reference's); correctness-
preserving reordering lives in rewrite.py.

Cost model: estimated model-call cost in arbitrary units —
calls × model weight × prompt-size factor, with row counts propagated
through cardinality (split multiplies rows by chunks/doc, filter halves,
reduce collapses to groups). The reference's selectivity estimation
(containers.py:38-48) is the analogue; ours uses declared stats.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field, replace

from .ir import OP_TYPES, OpSpec

# relative per-1k-token call cost (litellm-style public price ratios)
MODEL_WEIGHTS = {
    "gpt-4o": 1.0,
    "gpt-4o-mini": 0.06,
    "gpt-4.1-nano": 0.02,
}
DEFAULT_MODEL = "gpt-4o-mini"
CHEAPER = {"gpt-4o": "gpt-4o-mini", "gpt-4o-mini": "gpt-4.1-nano"}
STRONGER = {v: k for k, v in CHEAPER.items()}


@dataclass(frozen=True)
class PlanStats:
    """Input statistics the search scores against (the reference samples
    these at build time; callers pass measured values)."""

    rows: int = 1_000
    avg_doc_tokens: int = 500
    groups: int | None = None  # distinct reduce keys; None -> rows/10
    chunk_tokens: int = 500  # split target size for doc_chunking
    proxy_cost_ratio: float = 0.1  # logprob call vs full completion
    cascade_escalation: float = 0.3  # fraction of rows below threshold
    filter_selectivity: float = 0.5
    long_doc_tokens: int = 2_000  # doc_chunking applicability bar


def _model_weight(op: OpSpec) -> float:
    return MODEL_WEIGHTS.get(op.config.get("model", DEFAULT_MODEL), MODEL_WEIGHTS[DEFAULT_MODEL])


def estimate_cost(ops: list[OpSpec], stats: PlanStats) -> float:
    """Propagate row counts through the chain; sum model-call cost."""
    rows = float(stats.rows)
    tokens = float(stats.avg_doc_tokens)
    cost = 0.0
    for op in ops:
        w = _model_weight(op)
        size = tokens / 1000.0
        if op.type in ("map", "parallel_map", "extract"):
            calls = rows
            if op.type == "parallel_map":
                # isolating_subtasks: one model call per sub-prompt
                calls *= max(1, len(op.config.get("prompts", [])) or 1)
            if op.config.get("batch_prompt"):
                calls = math.ceil(rows / int(op.config.get("max_batch_size", 16)))
                size *= min(rows, int(op.config.get("max_batch_size", 16)))
            # ops reading pre-extracted/summarized fields see a smaller prompt
            size *= float(op.config.get("_prompt_size_factor", 1))
            glean = op.config.get("gleaning")
            mult = 1 + 2 * int(glean.get("num_rounds", 1)) if glean else 1
            cost += calls * mult * w * size
            # doc_compression / doc_summarization shrink every DOWNSTREAM
            # op's prompt: the op declares the surviving token fraction
            shrink = op.config.get("_shrinks_tokens")
            if shrink:
                tokens *= float(shrink)
        elif op.type == "filter":
            if op.config.get("cascade"):
                proxy = MODEL_WEIGHTS[DEFAULT_MODEL] * stats.proxy_cost_ratio
                cost += rows * proxy * size + rows * stats.cascade_escalation * w * size
            else:
                cost += rows * w * size
            rows *= stats.filter_selectivity
        elif op.type in ("reduce",):
            groups = float(stats.groups or max(1, stats.rows // 10))
            sub = float(op.config.get("_sub_groups", 1))  # hierarchical level-1 fan
            groups = min(rows, groups * sub)
            vs = op.config.get("value_sampling")
            per_group = rows / groups
            if vs:
                per_group = min(per_group, float(vs.get("size", per_group)))
            if op.config.get("_compressed_inputs"):
                # map_reduce_fusion: the reduce iterates over pre-extracted
                # fields, not full documents
                size *= 0.3
            glean = op.config.get("gleaning")
            mult = 1 + 2 * int(glean.get("num_rounds", 1)) if glean else 1
            cost += groups * mult * w * size * per_group
            rows = groups
        elif op.type in ("code_map", "code_filter"):
            # no model calls; deterministic_doc_compression still shrinks
            # every downstream prompt
            shrink = op.config.get("_shrinks_tokens")
            if shrink:
                tokens *= float(shrink)
        elif op.type == "resolve":
            # blocked pair adjudication: comparisons ~ a small multiple of
            # rows when blocking works (reference resolve selectivity)
            cost += rows * float(op.config.get("_pair_fraction", 0.05)) * w * size
        elif op.type == "topk":
            # embedding/fts retrieval is model-cheap; the row cut is the
            # point (doc_chunking_topk keeps k chunks per document)
            cost += rows * 0.001 * size
            keep = op.config.get("_keep_fraction")
            if keep:
                rows *= float(keep)
        elif op.type == "split":
            chunks = max(1.0, tokens / float(op.config.get("method_kwargs", {}).get("num_tokens", stats.chunk_tokens)))
            rows *= chunks
            tokens = tokens / chunks
    return cost


def estimate_quality(ops: list[OpSpec], stats: PlanStats) -> float:
    """Heuristic accuracy proxy in [0, 1]-ish space, mirroring the
    directive catalog's stated intents (gleaning/chunking/stronger model
    raise accuracy; cascades/sampling/code-swap trade a little away)."""
    q = 0.5
    for op in ops:
        if op.config.get("gleaning"):
            q += 0.05
        if op.config.get("cascade"):
            q -= 0.02
        if op.config.get("value_sampling"):
            q -= 0.05
        if op.type == "split":
            q += 0.1 if stats.avg_doc_tokens >= stats.long_doc_tokens else -0.05
        if op.type == "code_map" and op.config.get("_swapped_from_map"):
            q -= 0.1
        if op.config.get("_fused"):
            q -= 0.02  # one prompt doing two tasks: mild accuracy risk
        if op.config.get("_shrinks_tokens"):
            # focusing the LLM on relevant content helps on long docs,
            # hurts (information loss) on short ones
            q += 0.05 if stats.avg_doc_tokens >= stats.long_doc_tokens else -0.05
        if op.config.get("_sub_groups", 1) != 1:
            q += 0.05  # hierarchical rollup preserves per-subgroup nuance
        if op.config.get("_isolated"):
            q += 0.06  # one focused prompt per output field
        if op.config.get("_chained"):
            q += 0.025  # decomposed steps beat one overloaded prompt (x2 ops)
        if op.config.get("_normalizes"):
            q += 0.04  # dedup before aggregation removes double-counting
        if op.config.get("_clarified"):
            q += 0.03
        if op.config.get("_categorized"):
            q -= 0.02  # forced category set risks 'none of the above' losses
        if op.config.get("_header_summary"):
            q += 0.04 if stats.avg_doc_tokens >= stats.long_doc_tokens else -0.02
        w = _model_weight(op)
        if op.is_llm and w >= MODEL_WEIGHTS["gpt-4o"]:
            q += 0.08
        elif op.is_llm and w <= MODEL_WEIGHTS["gpt-4.1-nano"]:
            q -= 0.08
    return q


# --------------------------------------------------------------- directives
@dataclass(frozen=True)
class Directive:
    """One rewrite: name + applicability + instantiation (README.md:35-40
    directive contract, minus the agent — instantiation is explicit)."""

    name: str
    applies: callable
    apply: callable


def _d_cascade_filtering(ops, i, stats, backend):
    new = replace(ops[i], config={**ops[i].config, "cascade": {"proxy_threshold": 0.9}})
    return ops[:i] + [new] + ops[i + 1 :]


def _d_gleaning(ops, i, stats, backend):
    glean = {"num_rounds": 1,
             "validation_prompt": "Is this output complete and faithful to the input?\n"
                                  "Input: {{ input }}\nOutput: {{ output }}"}
    new = replace(ops[i], config={**ops[i].config, "gleaning": glean})
    return ops[:i] + [new] + ops[i + 1 :]


def _d_take_head_tail(ops, i, stats, backend):
    new = replace(ops[i], config={**ops[i].config, "value_sampling": {"method": "first", "size": 20}})
    return ops[:i] + [new] + ops[i + 1 :]


def _d_change_model(table):
    def inner(ops, i, stats, backend):
        cur = ops[i].config.get("model", DEFAULT_MODEL)
        new = replace(ops[i], config={**ops[i].config, "model": table[cur]})
        return ops[:i] + [new] + ops[i + 1 :]

    return inner


def _d_doc_chunking(ops, i, stats, backend):
    """MapOptimizer 'chunk' plan (optimizers/map_optimizer/plan_generators.py):
    map over long docs -> split(token windows) -> gather(context) ->
    map-per-chunk -> reduce(combine per doc)."""
    m = ops[i]
    doc_key = sorted(m.fields_read() or {"text"})[0]
    name = m.config.get("name", "map")
    out_schema = m.config.get("output", {}).get("schema") or m.config.get("output_schema") or {}
    split = OpSpec("split", {
        "name": f"{name}_split", "split_key": doc_key,
        "method": "token_count", "method_kwargs": {"num_tokens": stats.chunk_tokens},
    })
    gather = OpSpec("gather", {
        "content_key": f"{doc_key}_chunk",
        "doc_id_key": f"{name}_split_id", "order_key": f"{name}_split_chunk_num",
        "peripheral_chunks": {"previous": {"tail": {"count": 1}}},
    })
    chunk_map = replace(m, config={
        **m.config,
        "prompt": m.config.get("prompt", "").replace(
            f"input.{doc_key}", f"input.{doc_key}_chunk_rendered"),
    })
    # pass_through: the document's other columns survive the combine
    combine = OpSpec("reduce", {
        "name": f"{name}_combine", "reduce_key": f"{name}_split_id",
        "prompt": "Combine the chunk-level outputs: {{ inputs }}",
        "output": {"schema": out_schema}, "pass_through": True,
    })
    return ops[:i] + [split, gather, chunk_map, combine] + ops[i + 1 :]


def _merged_schema(a: OpSpec, b: OpSpec) -> dict:
    sa = a.config.get("output", {}).get("schema") or a.config.get("output_schema") or {}
    sb = b.config.get("output", {}).get("schema") or b.config.get("output_schema") or {}
    return {**sa, **sb}


def _out_schema(op: OpSpec) -> dict:
    return op.config.get("output", {}).get("schema") or op.config.get("output_schema") or {}


def _doc_key(op: OpSpec) -> str | None:
    reads = op.fields_read()
    return sorted(reads)[0] if reads else None


def _d_operator_fusion(ops, i, stats, backend):
    """operator_fusion (reference directives/operator_fusion.py):
    Op1 -> Op2 => Op2 with a fused prompt — one document read and one
    call instead of two. Deterministic instantiation: concatenated
    prompts; map+map keeps the union schema, map+filter keeps the
    filter's boolean schema (legal only when nothing downstream reads
    the map's outputs — checked in applies)."""
    m, nxt = ops[i], ops[i + 1]
    fused_prompt = (m.config.get("prompt", "") + "\nAdditionally, in the same pass: "
                    + nxt.config.get("prompt", ""))
    if nxt.type == "map":
        fused = OpSpec("map", {
            **nxt.config,
            "name": f"{m.config.get('name', 'map')}_{nxt.config.get('name', 'map')}_fused",
            "prompt": fused_prompt,
            "output": {"schema": _merged_schema(m, nxt)},
            "_fused": True,
        })
    else:  # filter
        fused = OpSpec("filter", {
            **nxt.config,
            "name": f"{m.config.get('name', 'map')}_{nxt.config.get('name', 'filter')}_fused",
            "prompt": fused_prompt,
            "_fused": True,
        })
    return ops[:i] + [fused] + ops[i + 2 :]


def _d_map_reduce_fusion(ops, i, stats, backend):
    """map_reduce_fusion (directives/map_reduce_fusion.py): the map
    pre-extracts what the reduce needs, the reduce iterates over those
    extractions instead of full documents. Deterministic instantiation:
    the reduce's document references swap to the map's first output key
    and the reduce is marked _compressed_inputs (cost model: ~0.3x
    prompt)."""
    m, red = ops[i], ops[i + 1]
    map_keys = sorted(_out_schema(m)) or ["extracted"]
    doc_key = _doc_key(red) or "text"
    new_map = replace(m, config={
        **m.config,
        "prompt": m.config.get("prompt", "")
        + f"\nAlso extract everything the downstream aggregation needs into '{map_keys[0]}'.",
    })
    new_reduce = replace(red, config={
        **red.config,
        "prompt": red.config.get("prompt", "").replace(
            f"input.{doc_key}", f"input.{map_keys[0]}"
        ).replace(f"item.{doc_key}", f"item.{map_keys[0]}"),
        "_compressed_inputs": True,
    })
    return ops[:i] + [new_map, new_reduce] + ops[i + 2 :]


def _d_doc_compression(ops, i, stats, backend):
    """doc_compression (directives/doc_compression.py): Op => Extract ->
    Op. A cheap extract pass keeps only content relevant to the
    downstream prompt; the op then reads '{key}_extracted'."""
    op = ops[i]
    key = _doc_key(op) or "text"
    name = op.config.get("name", op.type)
    extract = OpSpec("extract", {
        "name": f"{name}_compress",
        "prompt": f"Extract the minimal spans of {{{{ input.{key} }}}} needed for: "
                  + op.config.get("prompt", "")[:200],
        "document_keys": [key],
        "_shrinks_tokens": 0.3,
    })
    new = replace(op, config={
        **op.config,
        "prompt": op.config.get("prompt", "").replace(f"input.{key}", f"input.{key}_extracted"),
    })
    return ops[:i] + [extract, new] + ops[i + 1 :]


def _d_doc_summarization(ops, i, stats, backend):
    """doc_summarization (directives/doc_summarization.py): Op => Map ->
    Op at the pipeline head — a cheap summarizer rewrites the document
    key IN PLACE so every downstream reader of that key gets the short
    version."""
    op = ops[i]
    key = _doc_key(op) or "text"
    summarize = OpSpec("map", {
        "name": f"summarize_{key}",
        "prompt": f"Summarize {{{{ input.{key} }}}}, preserving every fact the "
                  "downstream pipeline needs.",
        "output": {"schema": {key: "str"}},
        "model": CHEAPER.get(DEFAULT_MODEL, DEFAULT_MODEL),
        "_shrinks_tokens": 0.25,
    })
    return [summarize] + list(ops)


def _d_hierarchical_reduce(ops, i, stats, backend):
    """hierarchical_reduce (directives/hierarchical_reduce.py): Reduce =>
    Map -> Reduce(key+sub) -> Reduce(key). Deterministic instantiation:
    the sub-key is an md5 bucket (the reference's agent invents a
    semantic sub-key; a hash bucket is the agent-free analogue), the
    level-1 reduce summarizes each bucket, the level-2 rollup combines
    bucket summaries."""
    red = ops[i]
    key = red.config.get("reduce_key")
    keys = key if isinstance(key, list) else [key]
    name = red.config.get("name", "reduce")
    sub_col = f"_{name}_bucket"
    bucket = OpSpec("code_map", {
        "name": f"{name}_bucket",
        "code": ("import hashlib\n"
                 "def transform(doc):\n"
                 f"    h = hashlib.md5(str(sorted(doc.items())).encode()).hexdigest()\n"
                 f"    return {{'{sub_col}': int(h[:8], 16) % 8}}\n"),
        "output": {"schema": {sub_col: "int"}},
    })
    level1 = replace(red, config={
        **red.config,
        "name": f"{name}_level1",
        "reduce_key": keys + [sub_col],
        "_sub_groups": 8,
    })
    level2 = replace(red, config={
        **red.config,
        "name": f"{name}_rollup",
        "prompt": "Combine these sub-group summaries into one: {{ inputs }}",
        "_compressed_inputs": True,
    })
    return ops[:i] + [bucket, level1, level2] + ops[i + 1 :]


def _d_reduce_gleaning(ops, i, stats, backend):
    """reduce_gleaning (directives/reduce_gleaning.py): judge-validate
    each reduce output, refine until it passes or rounds run out."""
    glean = {"num_rounds": 1,
             "validation_prompt": "Does this aggregate faithfully cover every input item?\n"
                                  "Aggregate: {{ output }}\nItems: {{ inputs }}"}
    new = replace(ops[i], config={**ops[i].config, "gleaning": glean})
    return ops[:i] + [new] + ops[i + 1 :]


def _fusion_applies(ops, i, stats, be):
    if i + 1 >= len(ops) or ops[i].type != "map":
        return False
    nxt = ops[i + 1]
    if nxt.type not in ("map", "filter") or ops[i].config.get("_fused") or nxt.config.get("_fused"):
        return False
    # the second prompt must not READ what the first map writes: in the
    # fused single pass those fields don't exist yet, and the prompt's
    # {{ input.<field> }} raises under StrictUndefined at execution (fail
    # closed on unknown reads/writes)
    written_by_first = ops[i].fields_written()
    nxt_reads = nxt.fields_read()
    if written_by_first is None or nxt_reads is None or (nxt_reads & written_by_first):
        return False
    if nxt.type == "filter":
        # the map's outputs vanish in the fusion: legal only when no LATER
        # op reads them (fail closed on unknown reads)
        written = ops[i].fields_written() or set()
        for later in ops[i + 2 :]:
            reads = later.fields_read()
            if reads is None or (reads & written):
                return False
    return True


def _d_swap_with_code(ops, i, stats, backend):
    m = ops[i]
    ans = backend.complete(
        "Write a pure-python transform(doc) replacing this prompt if it is "
        f"mechanically expressible, else decline: {m.config.get('prompt', '')}",
        {"python_code": "str", "confident": "bool"},
        dict(m.config),
    )
    if not ans.get("confident"):
        return None  # agent declined -> directive does not fire
    out_schema = m.config.get("output", {}).get("schema") or m.config.get("output_schema") or {}
    return ops[:i] + [OpSpec("code_map", {
        "name": m.config.get("name", "map"), "code": ans["python_code"],
        "output": {"schema": out_schema}, "_swapped_from_map": True,
    })] + ops[i + 1 :]


def _prompt_keywords(prompt: str, n: int = 8) -> list[str]:
    """Deterministic keyword pull for agent-free instantiations: distinct
    lowercase words > 4 chars, template syntax stripped, prompt order."""
    import re as _re

    text = _re.sub(r"\{\{[^}]*\}\}", " ", prompt or "")
    seen: list[str] = []
    for w in _re.findall(r"[a-zA-Z]{5,}", text.lower()):
        if w not in seen:
            seen.append(w)
    return seen[:n]


def _d_chaining(ops, i, stats, backend):
    """chaining (directives/chaining.py): decompose a complex Map into
    extract-key-facts Map (writes 'result') -> original op reading
    input.result instead of the full document."""
    m = ops[i]
    key = _doc_key(m) or "text"
    name = m.config.get("name", "map")
    pre = OpSpec("map", {
        "name": f"{name}_facts",
        "prompt": f"Extract only the facts from {{{{ input.{key} }}}} needed for: "
                  + m.config.get("prompt", "")[:200],
        "output": {"schema": {"result": "str"}},
        "model": CHEAPER.get(m.config.get("model", DEFAULT_MODEL), DEFAULT_MODEL),
        "_shrinks_tokens": 0.4,
        "_chained": True,
    })
    new = replace(m, config={
        **m.config,
        "prompt": m.config.get("prompt", "").replace(f"input.{key}", "input.result"),
        "_chained": True,
    })
    return ops[:i] + [pre, new] + ops[i + 1 :]


def _d_isolating_subtasks(ops, i, stats, backend):
    """isolating_subtasks (directives/isolating_subtasks.py): overloaded
    Map -> Parallel Map with one focused sub-prompt per output field,
    then a cheap synthesis Map over the isolated outputs."""
    m = ops[i]
    schema = _out_schema(m)
    name = m.config.get("name", "map")
    fields = sorted(schema)
    prompts = [
        {"prompt": m.config.get("prompt", "") + f"\nProduce ONLY the '{k}' field.",
         "output_keys": [k]}
        for k in fields
    ]
    par = OpSpec("parallel_map", {
        "name": f"{name}_subtasks",
        "prompts": prompts,
        "output": {"schema": schema},
        "_isolated": True,
    })
    synth = OpSpec("map", {
        "name": f"{name}_synthesize",
        "prompt": "Reconcile the independently-produced fields into one "
                  "consistent record: " + ", ".join(f"{{{{ input.{k} }}}}" for k in fields),
        "output": {"schema": schema},
        "model": CHEAPER.get(m.config.get("model", DEFAULT_MODEL), DEFAULT_MODEL),
        "_prompt_size_factor": 0.3,  # reads the short extracted fields only
        "_isolated": True,
    })
    return ops[:i] + [par, synth] + ops[i + 1 :]


def _d_reduce_chaining(ops, i, stats, backend):
    """reduce_chaining (directives/reduce_chaining.py): a Reduce that
    iterates long documents gets a per-document pre-extraction Map; the
    reduce prompt then reads 'result' instead of the document key."""
    red = ops[i]
    key = _doc_key(red) or "text"
    name = red.config.get("name", "reduce")
    pre = OpSpec("map", {
        "name": f"{name}_preextract",
        "prompt": f"From {{{{ input.{key} }}}}, extract exactly what this aggregation "
                  "needs: " + red.config.get("prompt", "")[:200],
        "output": {"schema": {"result": "str"}},
        "model": CHEAPER.get(red.config.get("model", DEFAULT_MODEL), DEFAULT_MODEL),
        "_chained": True,
    })
    new_red = replace(red, config={
        **red.config,
        "prompt": red.config.get("prompt", "")
        .replace(f"input.{key}", "input.result")
        .replace(f"item.{key}", "item.result"),
        "_compressed_inputs": True,
        "_chained": True,
    })
    return ops[:i] + [pre, new_red] + ops[i + 1 :]


def _d_chunk_header_summary(ops, i, stats, backend):
    """chunk_header_summary (directives/chunk_header_summary.py): in an
    existing Split -> Gather pipeline, insert a Map that extracts headers
    + a summary per chunk; Gather renders header breadcrumbs
    (doc_header_key) and uses summaries for middle chunks."""
    split = ops[i]
    j = next(k for k in range(i + 1, len(ops)) if ops[k].type == "gather")
    gather = ops[j]
    content_key = gather.config.get("content_key", "text_chunk")
    name = split.config.get("name", "split")
    meta = OpSpec("map", {
        "name": f"{name}_chunk_meta",
        "prompt": f"For {{{{ input.{content_key} }}}}: list its section headers (with "
                  "nesting level) and write a 1-2 sentence summary.",
        "output": {"schema": {"headers": "list[{header: str, level: int}]",
                              f"{content_key}_summary": "str"}},
        "model": CHEAPER.get(DEFAULT_MODEL, DEFAULT_MODEL),
        "_header_summary": True,
    })
    pc = dict(gather.config.get("peripheral_chunks") or {})
    for side in ("previous", "next"):
        side_cfg = dict(pc.get(side) or {})
        mid = dict(side_cfg.get("middle") or {})
        mid["content_key"] = f"{content_key}_summary"  # summaries, not full text
        side_cfg["middle"] = mid
        pc[side] = side_cfg
    new_gather = replace(gather, config={
        **gather.config,
        "doc_header_key": "headers",
        "peripheral_chunks": pc,
    })
    return ops[:i + 1] + [meta] + ops[i + 1 : j] + [new_gather] + ops[j + 1 :]


_COMPRESS_CODE_TEMPLATE = """\
import re
KEYWORDS = {keywords!r}
def transform(doc):
    text = doc.get({key!r}) or ''
    lines = text.split('\\n') if '\\n' in text else re.split(r'(?<=[.!?])\\s+', text)
    keep = set()
    for idx, line in enumerate(lines):
        low = line.lower()
        if any(k in low for k in KEYWORDS):
            keep.update((idx - 1, idx, idx + 1))
    kept = [lines[idx] for idx in sorted(k for k in keep if 0 <= k < len(lines))]
    return {{{key!r}: '\\n'.join(kept) if kept else text}}
"""


def _d_deterministic_doc_compression(ops, i, stats, backend):
    """deterministic_doc_compression (directives/
    deterministic_doc_compression.py): a free code_map keeps only
    keyword-relevant lines (±1 context) of the document before the
    expensive LLM op — regex/pattern compression, no model calls."""
    op = ops[i]
    key = _doc_key(op) or "text"
    keywords = _prompt_keywords(op.config.get("prompt", "")) or [key]
    name = op.config.get("name", op.type)
    compress = OpSpec("code_map", {
        "name": f"{name}_det_compress",
        "code": _COMPRESS_CODE_TEMPLATE.format(keywords=keywords, key=key),
        "output": {"schema": {key: "str"}},
        "_shrinks_tokens": 0.5,
        "_det_compressed": True,
    })
    return ops[:i] + [compress, ops[i]] + ops[i + 1 :]


def _d_doc_chunking_topk(ops, i, stats, backend):
    """doc_chunking_topk (directives/doc_chunking_topk.py): Map/Filter
    over documents where most content is irrelevant => Split ->
    TopK(fts, per-document) -> Reduce over the retrieved chunks; Filter
    additionally appends a code_filter on the boolean key."""
    m = ops[i]
    key = _doc_key(m) or "text"
    name = m.config.get("name", m.type)
    out_schema = _out_schema(m) or ({"keep": "bool"} if m.type == "filter" else {})
    chunks_per_doc = max(1.0, stats.avg_doc_tokens / stats.chunk_tokens)
    k = 3
    split = OpSpec("split", {
        "name": f"{name}_split", "split_key": key,
        "method": "token_count", "method_kwargs": {"num_tokens": stats.chunk_tokens},
    })
    topk = OpSpec("topk", {
        "name": f"{name}_retrieve", "method": "fts", "k": k,
        "query": " ".join(_prompt_keywords(m.config.get("prompt", "")) or [key]),
        "keys": [f"{key}_chunk"],
        "id_cols": [f"{name}_split_id", f"{name}_split_chunk_num"],
        "stratify_key": f"{name}_split_id",  # k best chunks PER document
        "_keep_fraction": min(1.0, k / chunks_per_doc),
    })
    answer = OpSpec("reduce", {
        "name": f"{name}_answer", "reduce_key": f"{name}_split_id",
        "prompt": m.config.get("prompt", "").replace(f"input.{key}", "inputs")
        + "\nBase the answer only on these retrieved excerpts: {{ inputs }}",
        "output": {"schema": out_schema},
        "model": m.config.get("model", DEFAULT_MODEL),
        "_compressed_inputs": True, "pass_through": True,
    })
    tail: list[OpSpec] = [split, topk, answer]
    if m.type == "filter":
        bool_key = sorted(out_schema)[0]
        tail.append(OpSpec("code_filter", {
            "name": f"{name}_bool",
            "code": f"def transform(doc):\n    return bool(doc.get({bool_key!r}))\n",
        }))
    return ops[:i] + tail + ops[i + 1 :]


def _d_map_resolve_to_map_with_categories(ops, i, stats, backend):
    """map_resolve_to_map_with_categories (directives/
    map_resolve_to_map_with_categories.py): agent proposes a closed
    category set; the Map is constrained to it and the Resolve is
    dropped (resolution becomes deterministic string equality)."""
    m, res = ops[i], ops[i + 1]
    ans = backend.complete(
        "Propose at most 10 canonical output categories covering this task, "
        "or decline if the space is open-ended: " + m.config.get("prompt", ""),
        {"categories": "list[str]", "confident": "bool"},
        dict(m.config),
    )
    if not ans.get("confident") or not ans.get("categories"):
        return None
    cats = [str(c) for c in ans["categories"]][:10]
    new_map = replace(m, config={
        **m.config,
        "prompt": m.config.get("prompt", "")
        + "\nAnswer with EXACTLY one of: " + ", ".join(cats) + ", none of the above.",
        "_categorized": True,
    })
    return ops[:i] + [new_map] + ops[i + 2 :]


def _d_map_to_map_resolve_reduce(ops, i, stats, backend):
    """map_to_map_resolve_reduce (directives/map_to_map_resolve_reduce.py):
    insert a Resolve between Map and Reduce so near-duplicate entities
    merge before aggregation; code-powered blocking (normalized equality
    + shared-token) keeps comparisons far from O(n^2)."""
    m, red = ops[i], ops[i + 1]
    rk = red.config.get("reduce_key")
    key = rk[0] if isinstance(rk, list) else rk
    name = m.config.get("name", "map")
    rid = f"_{name}_rid"
    # resolve needs a per-row identity column: mint one (the map's rows
    # have no guaranteed unique key after arbitrary upstream rewrites)
    uid = OpSpec("add_uuid", {"name": f"{name}_rid", "id_key": rid})
    res = OpSpec("resolve", {
        "name": f"{name}_normalize",
        "id_col": rid,
        "blocking_keys": [key],
        # SQL expressions over a./b. prefixes — the dialect our resolve's
        # candidate_pairs evaluates (the reference evals Python pair
        # predicates; ours compiles predicates into the blocking join)
        "blocking_conditions": [f"lower(trim(a.{key})) = lower(trim(b.{key}))"],
        "comparison_prompt": (
            f"Are {{{{ input1.{key} }}}} and {{{{ input2.{key} }}}} the same entity?"
        ),
        "resolution_prompt": f"Canonical form of these variants: {{{{ inputs }}}}",
        "output": {"schema": {key: "str"}},
        "_normalizes": True,
        "_pair_fraction": 0.05,
    })
    return ops[:i + 1] + [uid, res] + ops[i + 1 :]


def _d_clarify_instructions(ops, i, stats, backend):
    """clarify_instructions (directives/clarify_instructions.py): agent
    rewrites a vague prompt into specific instructions; fires only on a
    confident structured answer."""
    op = ops[i]
    ans = backend.complete(
        "Rewrite this prompt with clearer, more specific instructions "
        "(keep every {{ ... }} template reference intact), or decline: "
        + op.config.get("prompt", ""),
        {"prompt": "str", "confident": "bool"},
        dict(op.config),
    )
    if not ans.get("confident") or not ans.get("prompt"):
        return None
    new = replace(op, config={**op.config, "prompt": str(ans["prompt"]), "_clarified": True})
    return ops[:i] + [new] + ops[i + 1 :]


def _d_change_model_auto(ops, i, stats, backend):
    """change_model (directives/change_model.py): agent-free heuristic
    analogue of the generic variant — short extraction-style prompts run
    on the cheaper neighbor, long reasoning prompts on the stronger one
    (the _cost/_acc variants express the pure directions)."""
    op = ops[i]
    cur = op.config.get("model", DEFAULT_MODEL)
    table = CHEAPER if len(op.config.get("prompt", "")) < 200 else STRONGER
    if cur not in table:
        return None
    new = replace(op, config={**op.config, "model": table[cur]})
    return ops[:i] + [new] + ops[i + 1 :]


def _d_arbitrary_rewrite(ops, i, stats, backend):
    """arbitrary_rewrite (directives/arbitrary_rewrite.py): catch-all —
    the agent edits the op-list JSON wholesale; accepted only when the
    result parses into known op types with the same terminal schema
    keys (fail closed)."""
    import json

    payload = json.dumps([{"type": o.type, "config": o.config} for o in ops], default=str)
    ans = backend.complete(
        "Optimize this pipeline JSON (list of {type, config}); return the "
        "full edited list as JSON, or decline: " + payload,
        {"pipeline_json": "str", "confident": "bool"},
        {"ops": payload},
    )
    if not ans.get("confident"):
        return None
    try:
        parsed = json.loads(ans.get("pipeline_json") or "")
        new_ops = [OpSpec(o["type"], dict(o["config"])) for o in parsed]
    except Exception:
        return None
    if not new_ops or any(o.type not in OP_TYPES for o in new_ops):
        return None
    if _out_schema(new_ops[-1]).keys() != _out_schema(ops[-1]).keys():
        return None  # terminal schema must survive the rewrite
    return new_ops


def _blocking_unconfigured(op: OpSpec) -> bool:
    c = op.config
    return not any(
        c.get(k) is not None
        for k in ("blocking", "blocking_keys", "blocking_threshold",
                  "blocking_conditions", "sorted_neighborhood")
    )


def _d_synthesize_blocking(ops, i, stats, backend):
    """JoinOptimizer front half (reference optimizers/join_optimizer.py
    :1253-1675): an unblocked resolve/equijoin gets ``blocking: auto`` —
    at run time the op labels a sample with its own comparison model,
    keeps the most selective catalog rule meeting the recall target
    (operators/blocking.py synthesize_blocking*), and falls back to a
    calibrated cosine threshold. The directive stays config-only; the
    data-driven synthesis runs where the data is."""
    new = replace(ops[i], config={**ops[i].config, "blocking": "auto"})
    return ops[:i] + [new] + ops[i + 1 :]


DIRECTIVES: list[Directive] = [
    Directive(
        "synthesize_blocking",
        lambda ops, i, stats, be: (
            ops[i].type in ("resolve", "equijoin")
            and bool(ops[i].config.get("comparison_prompt"))
            and _blocking_unconfigured(ops[i])
        ),
        _d_synthesize_blocking,
    ),
    Directive(
        "cascade_filtering",
        lambda ops, i, stats, be: ops[i].type == "filter" and not ops[i].config.get("cascade"),
        _d_cascade_filtering,
    ),
    Directive(
        "gleaning",
        lambda ops, i, stats, be: ops[i].type == "map" and not ops[i].config.get("gleaning"),
        _d_gleaning,
    ),
    Directive(
        "take_head_tail",
        lambda ops, i, stats, be: ops[i].type == "reduce" and not ops[i].config.get("value_sampling"),
        _d_take_head_tail,
    ),
    Directive(
        "change_model_cost",
        lambda ops, i, stats, be: ops[i].takes_model and ops[i].config.get("model", DEFAULT_MODEL) in CHEAPER,
        _d_change_model(CHEAPER),
    ),
    Directive(
        "change_model_acc",
        lambda ops, i, stats, be: ops[i].takes_model and ops[i].config.get("model", DEFAULT_MODEL) in STRONGER,
        _d_change_model(STRONGER),
    ),
    Directive(
        "doc_chunking",
        lambda ops, i, stats, be: (
            ops[i].type == "map"
            and stats.avg_doc_tokens >= stats.long_doc_tokens
            and not any(o.type == "split" for o in ops)
        ),
        _d_doc_chunking,
    ),
    Directive(
        "swap_with_code",
        lambda ops, i, stats, be: be is not None and ops[i].type == "map",
        _d_swap_with_code,
    ),
    Directive("operator_fusion", _fusion_applies, _d_operator_fusion),
    Directive(
        "map_reduce_fusion",
        lambda ops, i, stats, be: (
            i + 1 < len(ops) and ops[i].type == "map" and ops[i + 1].type == "reduce"
            and not ops[i + 1].config.get("_compressed_inputs")
        ),
        _d_map_reduce_fusion,
    ),
    Directive(
        "doc_compression",
        lambda ops, i, stats, be: (
            ops[i].type in ("map", "filter", "reduce")
            and stats.avg_doc_tokens >= stats.long_doc_tokens
            and bool(ops[i].fields_read())
            and "_extracted" not in ops[i].config.get("prompt", "")
        ),
        _d_doc_compression,
    ),
    Directive(
        "doc_summarization",
        lambda ops, i, stats, be: (
            i == 0 and ops[i].is_llm
            and stats.avg_doc_tokens >= stats.long_doc_tokens
            and not any(o.config.get("_shrinks_tokens") for o in ops)
        ),
        _d_doc_summarization,
    ),
    Directive(
        "hierarchical_reduce",
        lambda ops, i, stats, be: (
            ops[i].type == "reduce"
            and ops[i].config.get("reduce_key")
            and ops[i].config.get("_sub_groups", 1) == 1
            and stats.rows / max(stats.groups or max(1, stats.rows // 10), 1) >= 50
        ),
        _d_hierarchical_reduce,
    ),
    Directive(
        "reduce_gleaning",
        lambda ops, i, stats, be: (
            # semantic_reduce gleans its one-shot output only
            ops[i].type == "reduce"
            and not any(ops[i].config.get(k) for k in ("gleaning", "fold_prompt", "agent"))
        ),
        _d_reduce_gleaning,
    ),
    Directive(
        "chaining",
        lambda ops, i, stats, be: (
            ops[i].type == "map" and not ops[i].config.get("_chained")
            and stats.avg_doc_tokens >= stats.long_doc_tokens
            and bool(ops[i].config.get("prompt"))
        ),
        _d_chaining,
    ),
    Directive(
        "isolating_subtasks",
        lambda ops, i, stats, be: (
            ops[i].type == "map" and not ops[i].config.get("_isolated")
            and len(_out_schema(ops[i])) >= 2
        ),
        _d_isolating_subtasks,
    ),
    Directive(
        "reduce_chaining",
        lambda ops, i, stats, be: (
            ops[i].type == "reduce" and not ops[i].config.get("_compressed_inputs")
            and not ops[i].config.get("_chained")
            and stats.avg_doc_tokens >= stats.long_doc_tokens
        ),
        _d_reduce_chaining,
    ),
    Directive(
        "chunk_header_summary",
        lambda ops, i, stats, be: (
            ops[i].type == "split"
            and any(
                o.type == "gather" and not o.config.get("doc_header_key")
                for o in ops[i + 1 :]
            )
        ),
        _d_chunk_header_summary,
    ),
    Directive(
        "deterministic_doc_compression",
        lambda ops, i, stats, be: (
            ops[i].is_llm and bool(ops[i].fields_read())
            and stats.avg_doc_tokens >= stats.long_doc_tokens
            and (i == 0 or not ops[i - 1].config.get("_det_compressed"))
        ),
        _d_deterministic_doc_compression,
    ),
    Directive(
        "doc_chunking_topk",
        lambda ops, i, stats, be: (
            ops[i].type in ("map", "filter")
            and stats.avg_doc_tokens >= stats.long_doc_tokens
            and not any(o.type == "split" for o in ops)
            # the retrieval pipeline re-keys rows by document, and the
            # answer reduce passes the other columns through from ONE
            # retrieved chunk's row: legal only when every later op reads
            # nothing but the op's outputs (fail closed on unknown reads)
            and all(
                o.fields_read() is not None and o.fields_read() <= set(_out_schema(ops[i]))
                for o in ops[i + 1 :]
            )
        ),
        _d_doc_chunking_topk,
    ),
    Directive(
        "map_resolve_to_map_with_categories",
        lambda ops, i, stats, be: (
            be is not None and i + 1 < len(ops)
            and ops[i].type == "map" and ops[i + 1].type == "resolve"
        ),
        _d_map_resolve_to_map_with_categories,
    ),
    Directive(
        "map_to_map_resolve_reduce",
        lambda ops, i, stats, be: (
            i + 1 < len(ops) and ops[i].type == "map"
            and ops[i + 1].type == "reduce" and ops[i + 1].config.get("reduce_key")
        ),
        _d_map_to_map_resolve_reduce,
    ),
    Directive(
        "clarify_instructions",
        lambda ops, i, stats, be: (
            # only a `prompt` key: resolve/equijoin's comparison_prompt is
            # another parameter
            be is not None and ops[i].is_llm and bool(ops[i].config.get("prompt"))
            and not ops[i].config.get("_clarified")
        ),
        _d_clarify_instructions,
    ),
    Directive(
        "change_model",
        lambda ops, i, stats, be: ops[i].takes_model,
        _d_change_model_auto,
    ),
    Directive(
        "arbitrary_rewrite",
        lambda ops, i, stats, be: be is not None and i == 0,
        _d_arbitrary_rewrite,
    ),
]


# ------------------------------------------------------------------ search
@dataclass
class Candidate:
    ops: list[OpSpec]
    cost: float
    quality: float
    applied: tuple = ()


@dataclass
class OptimizeResult:
    frontier: list[Candidate] = field(default_factory=list)
    explored: int = 0

    def best(self, objective: str = "cost") -> Candidate:
        if objective == "cost":
            return min(self.frontier, key=lambda c: (c.cost, -c.quality))
        return max(self.frontier, key=lambda c: (c.quality, -c.cost))


def _dominates(a: Candidate, b: Candidate) -> bool:
    return a.cost <= b.cost and a.quality >= b.quality and (a.cost < b.cost or a.quality > b.quality)


def pareto_insert(frontier: list[Candidate], cand: Candidate) -> bool:
    """Insert if non-dominated; drop newly dominated members. Returns
    whether the candidate joined (ParetoFrontier.py semantics)."""
    for f in frontier:
        if _dominates(f, cand) or (f.cost == cand.cost and f.quality == cand.quality):
            return False
    frontier[:] = [f for f in frontier if not _dominates(cand, f)] + [cand]
    return True


def agent_instantiate(directive: Directive, ops, i, stats, backend):
    """Agent-filled directive instantiation (reference
    directives/README.md:35-40: an agent fills EVERY directive's config
    via structured output; our deterministic instantiations cover the
    agent-free path). The deterministic ``apply`` runs first as a DRAFT;
    the backend may then rewrite the configs of the ops the directive
    introduced (structured JSON), with validation and a fall-back to
    the draft when it declines, returns malformed JSON, or targets ops
    it didn't create. Keeps search reproducible under FakeBackend while
    letting a real agent specialize prompts/parameters per pipeline."""
    base = directive.apply(ops, i, stats, backend)
    if base is None or backend is None:
        return base
    old_ids = {id(o) for o in ops}
    changed = [j for j, o in enumerate(base) if id(o) not in old_ids]
    if not changed:
        return base
    import json

    drafts = [{"index": j, "type": base[j].type, "config": base[j].config} for j in changed]
    try:
        drafts_json = json.dumps(drafts, default=str, sort_keys=True)
    except (TypeError, ValueError):
        return base
    ans = backend.complete(
        f"Directive '{directive.name}' rewrote a pipeline; these are the new/"
        "changed ops it introduced. Improve their configs for this pipeline "
        "if you can (sharper prompts, better parameters), or keep the draft. "
        "Return configs_json: JSON list of {index, config} entries to "
        "replace, and use_draft: true to keep everything as-is.\n"
        + drafts_json,
        {"configs_json": "str", "use_draft": "bool"},
        {"directive": directive.name, "drafts": drafts},
    )
    if ans.get("use_draft") or not ans.get("configs_json"):
        return base
    try:
        updates = json.loads(ans["configs_json"])
        changed_set = set(changed)
        out = list(base)
        for u in updates:
            j = int(u["index"])
            cfg = u.get("config")
            if j in changed_set and isinstance(cfg, dict) and cfg:
                out[j] = replace(base[j], config=cfg)
        return out
    except (KeyError, TypeError, ValueError):
        return base  # malformed agent output -> deterministic draft


def optimize_ops(
    ops: list[OpSpec],
    stats: PlanStats | None = None,
    *,
    backend=None,
    max_depth: int = 3,
    beam: int = 8,
    agent_instantiation: bool = False,
) -> OptimizeResult:
    """Beam search over directive applications, keeping the Pareto
    frontier of (cost, quality). Deterministic: directives enumerate in
    catalog order, positions left-to-right, candidates sorted by score.
    ``agent_instantiation=True`` (requires a backend) routes every
    directive application through :func:`agent_instantiate`."""
    stats = stats or PlanStats()
    _apply = (
        (lambda d, o, i: agent_instantiate(d, o, i, stats, backend))
        if (agent_instantiation and backend is not None)
        else (lambda d, o, i: d.apply(o, i, stats, backend))
    )
    root = Candidate(list(ops), estimate_cost(ops, stats), estimate_quality(ops, stats))
    result = OptimizeResult(frontier=[root], explored=1)
    level = [root]
    for _ in range(max_depth):
        nxt: list[Candidate] = []
        for cand in level:
            for d in DIRECTIVES:
                for i in range(len(cand.ops)):
                    if cand.ops[i].config.get("optimize") is False:
                        continue  # per-op pin (reference `optimize: false`)
                    if (d.name, i) in cand.applied or not d.applies(cand.ops, i, stats, backend):
                        continue
                    new_ops = _apply(d, cand.ops, i)
                    if new_ops is None:
                        continue
                    c = Candidate(
                        new_ops,
                        estimate_cost(new_ops, stats),
                        estimate_quality(new_ops, stats),
                        cand.applied + ((d.name, i),),
                    )
                    result.explored += 1
                    if pareto_insert(result.frontier, c):
                        nxt.append(c)
        nxt.sort(key=lambda c: (c.cost, -c.quality))
        level = nxt[:beam]
        if not level:
            break
    return result


# ---------------------------------------------------------- MOAR search
@dataclass
class _Node:
    """MCTS node (MOARSearch.py Node analogue): a concrete op list plus
    UCB bookkeeping."""

    ops: list
    applied: tuple = ()
    children: list = field(default_factory=list)
    expanded: bool = False
    visits: int = 0
    value: float = 0.0  # summed utility for UCB

    def ucb(self, parent_visits: int, c: float) -> float:
        if self.visits == 0:
            return float("inf")
        return self.value / self.visits + c * math.sqrt(
            math.log(max(parent_visits, 1)) / self.visits
        )


def moar_search(
    ops: list[OpSpec],
    stats: PlanStats | None = None,
    *,
    backend=None,
    evaluate=None,
    max_iterations: int = 20,
    exploration_constant: float = 1.414,
    expand_width: int = 4,
    cost_weight: float = 0.5,
    agent_instantiation: bool = False,
) -> OptimizeResult:
    """MOAR-style Monte-Carlo tree search over directive applications
    (reference moar/MOARSearch.py:30-235: UCB selection -> expansion ->
    simulation -> backpropagation, keeping a cost/accuracy Pareto
    frontier).

    Differences from :func:`optimize_ops` (beam): the tree REVISITS
    promising branches (UCB balances exploitation/exploration), and
    ``evaluate(ops) -> (cost, quality)`` can be an EMPIRICAL evaluator
    that executes the candidate on a sample dataset — the reference's
    simulate phase — instead of the static cost model. With
    ``backend``, expansion asks the agent to rank the applicable
    directives (reference _expansion_prompt); without one, catalog
    order is used (deterministic). ``agent_instantiation=True``
    additionally routes every directive application through
    :func:`agent_instantiate` (agent-filled configs with deterministic
    fallback — the reference's structured-output contract).
    """
    stats = stats or PlanStats()
    evaluate = evaluate or (lambda o: (estimate_cost(o, stats), estimate_quality(o, stats)))

    def utility(cost: float, quality: float) -> float:
        # reference utility: accuracy minus normalized cost
        return quality - cost_weight * cost / (root_cost + 1e-9)

    def candidates(node: _Node) -> list[tuple[str, int]]:
        out = []
        for d in DIRECTIVES:
            for i in range(len(node.ops)):
                if node.ops[i].config.get("optimize") is False:
                    continue  # per-op pin (reference `optimize: false`)
                if (d.name, i) not in node.applied and d.applies(node.ops, i, stats, backend):
                    out.append((d.name, i))
        return out

    def rank_candidates(node: _Node, cands: list[tuple[str, int]]) -> list[tuple[str, int]]:
        if backend is None or len(cands) <= expand_width:
            return cands[:expand_width]
        ans = backend.complete(
            "Rank these directive applications for this pipeline, best first; "
            "return the indices: "
            + "; ".join(f"{k}: {n}@op{i}" for k, (n, i) in enumerate(cands)),
            {"order": "list[int]"},
            {"ops": [o.type for o in node.ops]},
        )
        try:
            order = [int(x) for x in ans.get("order", []) if 0 <= int(x) < len(cands)]
        except (TypeError, ValueError):
            order = []
        ranked = [cands[i] for i in order] + [c for j, c in enumerate(cands) if j not in order]
        return ranked[:expand_width]

    by_name = {d.name: d for d in DIRECTIVES}
    root = _Node(list(ops))
    root_cost, root_q = evaluate(root.ops)
    result = OptimizeResult(frontier=[], explored=1)
    pareto_insert(result.frontier, Candidate(list(ops), root_cost, root_q))
    root.visits, root.value = 1, utility(root_cost, root_q)

    for _ in range(max_iterations):
        # 1. selection: walk down by UCB until an unexpanded node
        path = [root]
        node = root
        while node.expanded and node.children:
            node = max(node.children, key=lambda ch: ch.ucb(node.visits, exploration_constant))
            path.append(node)
        # 2. expansion
        if not node.expanded:
            for name, i in rank_candidates(node, candidates(node)):
                d = by_name[name]
                new_ops = (
                    agent_instantiate(d, node.ops, i, stats, backend)
                    if (agent_instantiation and backend is not None)
                    else d.apply(node.ops, i, stats, backend)
                )
                if new_ops is None:
                    continue
                node.children.append(_Node(new_ops, node.applied + ((name, i),)))
            node.expanded = True
            if node.children:
                node = node.children[0]
                path.append(node)
        # 3. simulation
        cost, quality = evaluate(node.ops)
        result.explored += 1
        pareto_insert(result.frontier, Candidate(node.ops, cost, quality, node.applied))
        # 4. backpropagation
        u = utility(cost, quality)
        for n in path:
            n.visits += 1
            n.value += u
        if node is root and not root.children:
            break  # nothing applicable at all
    return result


# -------------------------------------------- fast should_optimize probe
@dataclass
class ShouldOptimizeVerdict:
    """Result of the one-call decomposition probe
    (reference optimizers/fast_should_optimize.py:21-137): empty
    ``rationale`` means "leave the op alone"."""

    should_optimize: bool
    rationale: str
    suggested_improvements: list[str]
    num_docs_analyzed: int


def should_optimize(
    op: OpSpec,
    outputs,
    backend,
    *,
    max_samples: int = 20,
    max_sample_chars: int = 2000,
) -> ShouldOptimizeVerdict:
    """Single-call "is this op worth decomposing?" probe, the fast
    alternative to a full directive search (reference
    fast_should_optimize.py:21-137 reads cached intermediate JSON and
    asks the optimizer model once; here ``outputs`` is the op's output
    DataFrame and sampling is a bounded ``limit()`` — never a full
    collect). The verdict feeds :func:`optimize_ops` / :func:`moar_search`
    as a cheap gate: skip the whole search when the probe says no.

    The reference's FAST probe only supports map ops
    (fast_should_optimize.py:258-262); reduce ops route through
    :func:`should_optimize_reduce` (the ReduceOptimizer validator loop)
    when ``inputs`` is supplied, else raise like the reference.
    """
    if op.type == "reduce":
        raise ValueError(
            "reduce ops need their input DataFrame for group-level "
            "validation — call should_optimize_reduce(op, inputs, outputs, "
            "backend) instead"
        )
    if op.type not in ("map", "filter"):
        raise ValueError(
            f"should_optimize supports map-shaped ops, got {op.type!r}; "
            "run the full optimize_ops search for other types"
        )
    rows = [r.asDict(recursive=True) for r in outputs.limit(max_samples).collect()]
    if not rows:
        return ShouldOptimizeVerdict(False, "", [], 0)
    import json as _json

    samples = [
        _json.dumps(r, default=str)[:max_sample_chars] for r in rows
    ]
    prompt = (
        "You are judging whether an LLM data-processing operation should be "
        "decomposed into smaller focused steps. Decompose only on clear "
        "evidence: multiple distinct subtasks in one prompt, inconsistent or "
        "incomplete outputs, or long documents handled whole.\n\n"
        f"## Operation\nname: {op.config.get('name', 'unknown')}\n"
        f"type: {op.type}\n"
        f"prompt: {str(op.config.get('prompt', ''))[:3000]}\n"
        f"output schema: {op.config.get('output', {}).get('schema', op.config.get('output_schema', {}))}\n\n"
        "## Output samples\n" + "\n".join(samples)
    )
    res = backend.complete(
        prompt,
        {
            "should_optimize": "bool",
            "rationale": "string",
            "suggested_improvements": "list[string]",
        },
        rows,
    )
    go = bool(res.get("should_optimize"))
    improvements = res.get("suggested_improvements") or []
    if not isinstance(improvements, list):
        improvements = [str(improvements)]
    return ShouldOptimizeVerdict(
        go,
        str(res.get("rationale", "")) if go else "",
        [str(s) for s in improvements] if go else [],
        len(rows),
    )


def should_optimize_reduce(
    op: OpSpec,
    inputs,
    outputs,
    backend,
    *,
    max_groups: int = 5,
    max_sample_chars: int = 2000,
) -> ShouldOptimizeVerdict:
    """Reduce-shaped "is this op worth decomposing?" probe, mirroring
    the reference ReduceOptimizer's validator loop
    (reduce_optimizer.py:63-157): synthesize a VALIDATOR PROMPT from the
    reduce config plus a sampled output, then judge each sampled
    (group inputs, group output) pair against it — needs_improvement
    when at least half the judged groups report issues.

    ``inputs``/``outputs`` are the op's input and output DataFrames;
    sampling is bounded ``limit()`` collects (never full scans). One
    synthesis call + at most ``max_groups`` validation calls.
    """
    import json as _json

    from pyspark.sql import functions as F

    if op.type != "reduce":
        raise ValueError(f"should_optimize_reduce needs a reduce op, got {op.type!r}")
    rk = op.config.get("reduce_key")
    keys = [rk] if isinstance(rk, str) else list(rk or [])
    out_rows = [r.asDict(recursive=True) for r in outputs.limit(max_groups).collect()]
    if not out_rows:
        return ShouldOptimizeVerdict(False, "", [], 0)

    synth = backend.complete(
        "Generate a validation prompt for judging one output of the "
        "following reduce (group-aggregation) operation. The validator "
        "will see the group's input items and the produced output, and "
        "must report concrete issues (missing information, inconsistency, "
        "hallucination) and suggestions.\n\n"
        f"Reduce prompt:\n{str(op.config.get('prompt', ''))[:3000]}\n\n"
        f"Sample output:\n{_json.dumps(out_rows[0], default=str)[:max_sample_chars]}",
        {"validator_prompt": "str"},
        {"probe": "reduce_validator_synthesis"},
    )
    validator_prompt = str(synth.get("validator_prompt", ""))

    # sample each judged group's input items via a bounded semi-filtered
    # collect (groups are judged independently, like the reference's
    # _create_validation_inputs)
    issues_all: list[str] = []
    suggestions_all: list[str] = []
    flagged = 0
    for row in out_rows:
        cond = None
        for k in keys:
            if k == "_all":
                continue
            e = F.col(k).eqNullSafe(F.lit(row.get(k)))
            cond = e if cond is None else cond & e
        grp = inputs if cond is None else inputs.filter(cond)
        in_rows = [r.asDict(recursive=True) for r in grp.limit(10).collect()]
        ans = backend.complete(
            f"{validator_prompt}\n\n"
            f"## Group inputs\n{_json.dumps(in_rows, default=str)[:max_sample_chars]}\n\n"
            f"## Produced output\n{_json.dumps(row, default=str)[:max_sample_chars]}",
            {"issues": "list[string]", "suggestions": "list[string]"},
            {"group": {k: row.get(k) for k in keys}},
        )
        iss = [str(i) for i in (ans.get("issues") or []) if str(i).strip()]
        sug = [str(s) for s in (ans.get("suggestions") or []) if str(s).strip()]
        if iss:
            flagged += 1
            issues_all.extend(iss)
        suggestions_all.extend(sug)

    go = flagged * 2 >= len(out_rows)  # at least half the groups flagged
    rationale = "; ".join(
        f"Issues: {i}" for i in issues_all[:6]
    ) if go else ""
    return ShouldOptimizeVerdict(go, rationale, suggestions_all if go else [], len(out_rows))
