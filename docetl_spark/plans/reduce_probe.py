"""Fold-associativity probe: should a semantic reduce's fold be
promoted to the parallel fold+merge plan (``distribute_folds``)?

Reference parity: ``docetl/optimizers/reduce_optimizer.py:953-1018``
(``_is_associative`` — an agent reads the reduce prompt + a sample and
answers ``order_matters``) and ``:1273-1370`` (``_create_reduce_plans``
tags every synthesized fold plan with that verdict). This engine keeps
the agent analysis AND adds the check the reference leaves to the
agent's judgment: an EMPIRICAL replay — run the actual fold chain over
one sampled group in two different input orders and compare the final
accumulators. A fold that produces different answers under reordering
is not associative no matter what the agent believes, and must stay a
single ordered chain.

Wired into :func:`operators.semantic.semantic_reduce` via
``distribute_folds="auto"``: the probe runs once at plan time on a
bounded sample (driver-side, ``sample_size`` rows — an allowed
limit-gated collect), and the reduce compiles to the salted two-stage
distributed plan only when both checks pass. At 100 TB this is the
difference between a giant group landing in one task and
it folding in ``num_parallel_folds`` stripes — but ONLY when the
fold/merge contract actually commutes; a wrong promotion is a silent
correctness bug, which is why the gate is conservative (both layers
must agree).
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Any

__all__ = ["AssociativityProbe", "probe_fold_associativity", "should_parallelize_fold"]


@dataclass
class AssociativityProbe:
    """Outcome of the two-layer check."""

    parallelize: bool
    empirical_match: bool | None  # fold(sample) == fold(reordered sample); None = not run
    agent_order_matters: bool | None  # reference _is_associative verdict; None = skipped
    explanation: str


def _canonical(v: Any) -> Any:
    """Order-insensitive canonical form: dicts sort by key, lists of
    scalars sort by their JSON rendering (a reordered input may
    legitimately emit list accumulators in a different order — that is
    not order-sensitivity of the RESULT), floats round to 9 dp so a
    formatting difference doesn't read as non-associativity."""
    if isinstance(v, dict):
        return {k: _canonical(v[k]) for k in sorted(v)}
    if isinstance(v, (list, tuple)):
        items = [_canonical(x) for x in v]
        return sorted(items, key=lambda x: json.dumps(x, sort_keys=True, default=str))
    if isinstance(v, float):
        return round(v, 9)
    return v


def _run_fold(rows: list[dict], *, prompt: str, fold_prompt: str,
              output_schema: dict, reduce_key: dict, fold_batch_size: int,
              backend) -> dict:
    """One sequential fold chain, exactly as semantic_reduce's in-task
    fold() runs it (operators/semantic.py fold(): first batch through
    the base prompt, later batches through fold_prompt with the
    accumulator in ``output``)."""
    from ..operators.semantic import render_prompt

    acc: dict | None = None
    bs = fold_batch_size or len(rows) or 1
    for i in range(0, len(rows), bs):
        batch = rows[i : i + bs]
        if acc is None:
            rendered = render_prompt(prompt, {"inputs": batch, "reduce_key": reduce_key})
            acc = backend.complete(rendered, output_schema, batch)
        else:
            rendered = render_prompt(
                fold_prompt, {"inputs": batch, "output": acc, "reduce_key": reduce_key}
            )
            acc = backend.complete(rendered, output_schema, batch)
    return acc or {}


def probe_fold_associativity(
    sample_rows: list[dict],
    *,
    prompt: str,
    fold_prompt: str,
    output_schema: dict,
    backend,
    reduce_key: dict | None = None,
    fold_batch_size: int = 2,
    agent_check: bool = True,
) -> AssociativityProbe:
    """Run the two-layer check over an already-sampled group."""
    reduce_key = reduce_key or {}
    notes: list[str] = []

    # ------------------------------------------------- empirical replay
    empirical: bool | None = None
    if len(sample_rows) >= 2:
        base = _run_fold(sample_rows, prompt=prompt, fold_prompt=fold_prompt,
                         output_schema=output_schema, reduce_key=reduce_key,
                         fold_batch_size=fold_batch_size, backend=backend)
        # two deterministic reorderings: reversed, and an interleave that
        # moves batch boundaries (rotating by half a batch) — both replay
        # bit-identically across runs, unlike random.shuffle
        reorders = [list(reversed(sample_rows))]
        half = max(1, fold_batch_size // 2)
        reorders.append(sample_rows[half:] + sample_rows[:half])
        empirical = True
        for alt_rows in reorders:
            alt = _run_fold(alt_rows, prompt=prompt, fold_prompt=fold_prompt,
                            output_schema=output_schema, reduce_key=reduce_key,
                            fold_batch_size=fold_batch_size, backend=backend)
            if _canonical(alt) != _canonical(base):
                empirical = False
                notes.append(
                    "empirical replay: fold over a reordered sample produced a "
                    f"different accumulator ({json.dumps(_canonical(base), default=str)[:200]} "
                    f"vs {json.dumps(_canonical(alt), default=str)[:200]})"
                )
                break
        if empirical:
            notes.append("empirical replay: reordered folds agree")
    else:
        notes.append("empirical replay skipped: fewer than 2 sample rows")

    # ------------------------------------------- agent analysis (reference)
    order_matters: bool | None = None
    if agent_check:
        sample_json = json.dumps(sample_rows[:5], default=str)[:1000]
        analysis_prompt = (
            "Analyze the following reduce operation and determine if it is "
            "associative (the order of combining elements doesn't affect the "
            "final result).\n\n"
            f"Reduce Operation Prompt:\n{prompt}\n\n"
            f"Fold Prompt:\n{fold_prompt}\n\n"
            f"Sample Input Data:\n{sample_json}...\n\n"
            "Based on the reduce operation prompt, determine whether the order "
            "in which we process data matters. Answer with order_matters true "
            "if order matters or false if order doesn't matter. For example: "
            "merging extracted key-value pairs does not require order; "
            "generating a timeline of events requires order."
        )
        try:
            ans = backend.complete(
                analysis_prompt,
                {"order_matters": "bool", "explanation": "str"},
                {"probe": "fold_associativity"},
            )
            order_matters = bool(ans.get("order_matters", False))
            notes.append(f"agent: order_matters={order_matters} — {ans.get('explanation', '')}")
        except Exception as e:  # conservative: an unreachable judge blocks promotion
            order_matters = True
            notes.append(f"agent analysis failed ({e}); treating as order-sensitive")

    # promotion needs POSITIVE empirical agreement: a skipped or
    # degenerate replay (None) must not promote on the agent verdict
    # alone — the gate's documented contract is "both layers agree"
    parallelize = (empirical is True) and (order_matters is not True)
    if empirical is None:
        notes.append("no empirical evidence -> not promoting")
    return AssociativityProbe(
        parallelize=parallelize,
        empirical_match=empirical,
        agent_order_matters=order_matters,
        explanation="; ".join(notes),
    )


def should_parallelize_fold(
    df,
    backend,
    *,
    reduce_key: str | list[str] | None,
    prompt: str,
    fold_prompt: str,
    output_schema: dict,
    fold_batch_size: int | None = None,
    sort_within_group: list | None = None,
    sample_size: int = 8,
    agent_check: bool = True,
) -> AssociativityProbe:
    """Sample ONE group from ``df`` (the largest among a bounded head —
    a limit-gated collect, never a full scan) and probe whether its fold
    is order-insensitive. Gates ``distribute_folds='auto'``."""
    keys = (
        [reduce_key] if isinstance(reduce_key, str) else list(reduce_key or [])
    )
    head = [r.asDict(recursive=True) for r in df.limit(max(sample_size * 8, 32)).collect()]
    if keys and keys != ["_all"]:
        groups: dict[tuple, list[dict]] = {}
        for r in head:
            groups.setdefault(tuple(str(r.get(k)) for k in keys), []).append(r)
        rows = max(groups.values(), key=len) if groups else []
    else:
        rows = head
    if sort_within_group:
        rows = sorted(rows, key=lambda r: tuple(r.get(c) for c in sort_within_group))
    if len(rows) > sample_size:
        # strided subsample across the group's span — a sorted prefix
        # would blind the probe to order-sensitivity that only
        # manifests in later rows
        stride = len(rows) // sample_size
        rows = rows[::stride][:sample_size]
    rk = {k: rows[0][k] for k in keys if rows and k in rows[0]} if keys else {}
    return probe_fold_associativity(
        rows,
        prompt=prompt,
        fold_prompt=fold_prompt,
        output_schema=output_schema,
        backend=backend,
        reduce_key=rk,
        # cap the probe's batch at a third of the sample so the replay
        # exercises at least ~3 fold steps — a caller batch size >= the
        # sample would fold everything in ONE base-prompt batch and the
        # "reorder replay" would never run the fold_prompt at all
        fold_batch_size=max(1, min(fold_batch_size or len(rows), max(1, len(rows) // 3))),
        agent_check=agent_check,
    )
