"""Pipeline config validation (lint before execution).

Reference: /root/reference/docetl/plan/analysis.py:103-160 (validate /
validate_config -> PlanIssue list) and plan/ir.py:120-128 (PlanIssue).
Checks run BEFORE any Spark job: structural wiring (datasets, steps, op
name references), per-op config contracts (known types from
``ir.OP_TYPES``, required keys from the SemanticFrame verb each type
calls, plus a few value checks), output-schema type-grammar parses, and
a field-flow pass flagging reads of fields a previous op dropped.

Levels: "error" (the pipeline cannot run), "warning" (likely wrong but
executable), "info" (opaque/plugin ops the validator can't introspect).
"""

from __future__ import annotations

import inspect
from dataclasses import dataclass
from functools import lru_cache

from ..frame import SemanticFrame
from ..types import schema_of
from .ir import OP_TYPES, lift

_SAMPLE_METHODS = {"first", "uniform", "custom", "stratified", "outliers", "top_embedding", "top_fts", "smart"}
_TOPK_METHODS = {"embedding", "fts", "llm_compare"}
# code ops: the function the source must define besides transform()
_CODE_ENTRY = {"code_map": "transform", "code_filter": "predicate", "code_reduce": "reduce_fn"}


@dataclass
class PlanIssue:
    """A validation finding (plan/ir.py:120-128)."""

    level: str  # "error" | "warning" | "info"
    where: str
    message: str

    def __str__(self) -> str:
        return f"[{self.level}] {self.where}: {self.message}"


def _schema(c: dict) -> dict | None:
    return (c.get("output") or {}).get("schema") or c.get("output_schema")


@lru_cache(maxsize=None)
def _required_params(verb: str) -> tuple[str, ...]:
    """The verb's parameters that have no default."""
    params = list(inspect.signature(getattr(SemanticFrame, verb)).parameters.values())[1:]
    return tuple(p.name for p in params
                 if p.default is p.empty and p.kind in (p.POSITIONAL_OR_KEYWORD, p.KEYWORD_ONLY))


def _check_code(code: str, entry: str, name: str, issues: list[PlanIssue]) -> None:
    try:
        compile(code, name, "exec")
    except SyntaxError as e:
        issues.append(PlanIssue("error", name, f"code does not parse: {e}"))
        return
    if "def transform" not in code and f"def {entry}" not in code:
        issues.append(PlanIssue("error", name, f"code must define transform() (or {entry}())"))


def _check_op(op: dict) -> list[PlanIssue]:
    issues: list[PlanIssue] = []
    t = op.get("type")
    name = op.get("name", t or "<unnamed>")
    if not t:
        return [PlanIssue("error", name, "operation has no `type`")]
    op_type = OP_TYPES.get(t)
    if op_type is None:
        from ..plugins import get_operator

        level = "info" if get_operator(t) else "error"
        return [PlanIssue(level, name, f"unknown op type {t!r}"
                          + ("; resolved via plugin registry (opaque to the validator)"
                             if level == "info" else ""))]

    schema = _schema(op)
    if schema is not None:
        try:
            schema_of(schema)
        except Exception as e:
            issues.append(PlanIssue("error", name, f"output schema does not parse: {e}"))

    # required keys: the verb's parameters with no default, under the
    # YAML names apply_op maps onto them (output.schema -> output_schema);
    # an empty string or container is missing, 0 and False are given
    given = {k for k, v in op.items()
             if v is not None and not (isinstance(v, (str, list, tuple, dict)) and not v)
             and k != "output"}
    if schema is not None:
        given.add("output_schema")
    yaml_name = {"output_schema": "output.schema"}
    for key, param in op_type.renames:
        yaml_name[param] = key
        if key in given:
            given.add(param)
    for param in _required_params(op_type.verb or t):
        if param not in given:
            hint = " (use '_all' for global)" if param == "reduce_key" else ""
            issues.append(PlanIssue("error", name, f"{t} needs `{yaml_name.get(param, param)}`{hint}"))

    if t == "filter" and schema:
        bools = [k for k, v in schema.items() if str(v).lower().startswith("bool")]
        if len(schema) != 1 or len(bools) != 1:
            issues.append(PlanIssue(
                "error", name,
                "filter output schema must be exactly one bool key (filter.py:53-71)"))
    code = op.get("code")  # a bare callable has nothing to parse
    if t == "code_filter" and op.get("predicate") is not None:
        code = None  # SQL-expression predicate: checked by Spark analysis
    if t in _CODE_ENTRY and isinstance(code, str):
        _check_code(code, _CODE_ENTRY[t], name, issues)
    if t == "split" and op.get("method") not in ("token_count", "delimiter"):
        issues.append(PlanIssue("error", name, "split method must be token_count|delimiter"))
    if t == "resolve" and not (op.get("blocking_keys") or op.get("blocking_conditions")
                               or op.get("blocking_threshold")):
        issues.append(PlanIssue(
            "warning", name,
            "resolve has no blocking config: the all-pairs fallback is "
            "gated to tiny inputs (reference equijoin.py:318-330)"))
    if t == "sample" and op.get("method") not in _SAMPLE_METHODS:
        issues.append(PlanIssue("error", name, f"sample method must be one of {sorted(_SAMPLE_METHODS)}"))
    if t == "topk" and op.get("method") not in _TOPK_METHODS:
        issues.append(PlanIssue("error", name, f"topk method must be one of {sorted(_TOPK_METHODS)}"))
    budget = op.get("budget")
    if budget is not None and not (isinstance(budget, (int, float)) and budget > 0):
        issues.append(PlanIssue("error", name, f"{t} needs a positive `budget`"))
    return issues


def _field_flow(step_name: str, op_configs: list[dict]) -> list[PlanIssue]:
    """Flag reads of fields removed upstream (analysis.py:134-148)."""
    issues: list[PlanIssue] = []
    removed: set[str] = set()
    for spec, raw in zip(lift(op_configs), op_configs):
        name = raw.get("name", spec.type)
        reads = spec.fields_read()
        if reads:
            missing = reads & removed
            if missing:
                issues.append(PlanIssue(
                    "warning", f"{step_name}.{name}",
                    f"reads field(s) {sorted(missing)} that were removed upstream"))
        drops = raw.get("drop_keys") or []
        removed |= set(drops)
        written = spec.fields_written() or set()
        removed -= written
    return issues


def validate_config(config: dict) -> list[PlanIssue]:
    """Lint a pipeline config; returns [] when clean. Never raises."""
    issues: list[PlanIssue] = []
    datasets = config.get("datasets") or {}
    if not datasets:
        issues.append(PlanIssue("error", "<config>", "no `datasets` defined"))
    for dname, d in datasets.items():
        if d.get("type", "file") == "file" and not d.get("path"):
            issues.append(PlanIssue("error", f"datasets.{dname}", "file dataset needs `path`"))
        if d.get("type") == "memory" and "data" not in d:
            issues.append(PlanIssue("error", f"datasets.{dname}", "memory dataset needs `data`"))

    ops = config.get("operations") or []
    names = [o.get("name") for o in ops if o.get("name")]
    for dup in {n for n in names if names.count(n) > 1}:
        issues.append(PlanIssue("error", f"operations.{dup}", "duplicate operation name"))
    ops_by_name = {o.get("name"): o for o in ops}
    for op in ops:
        issues.extend(_check_op(op))

    steps = (config.get("pipeline") or {}).get("steps")
    if not steps:
        issues.append(PlanIssue("error", "<config>", "no `pipeline.steps` defined"))
        return issues
    known_inputs = set(datasets)
    for idx, step in enumerate(steps):
        sname = step.get("name", f"step{idx}")
        src = step.get("input")
        if src is not None and src not in known_inputs:
            issues.append(PlanIssue("error", sname, f"unknown step input {src!r}"))
        if src is None and idx == 0:
            issues.append(PlanIssue("error", sname, "first step needs an `input` dataset"))
        step_ops = []
        for oname in step.get("operations", []):
            if oname not in ops_by_name:
                issues.append(PlanIssue("error", sname, f"unknown operation {oname!r}"))
            else:
                step_ops.append(ops_by_name[oname])
        if step_ops:
            try:
                issues.extend(_field_flow(sname, step_ops))
            except Exception as e:  # lint must never crash on odd configs
                issues.append(PlanIssue("info", sname, f"field-flow analysis skipped: {e}"))
        known_inputs.add(sname)
    return issues
