"""Semantic operators: map / parallel_map / filter / reduce driven by a
ModelBackend (LLM or deterministic fake).

Reference semantics:
- map          /root/reference/docetl/operations/map.py:35-714
  (prompt rendered per row with ``{{ input }}``; typed output merged over
  the row ``{**item, **output}`` map.py:513; ``drop_keys`` after merge)
- parallel_map /root/reference/docetl/operations/map.py:717-985
  (N independent prompts filling disjoint key sets, merged)
- filter       /root/reference/docetl/operations/filter.py:23-224
  (single-bool output schema; decision key popped from survivors)
- reduce       /root/reference/docetl/operations/reduce.py:44-1053
  (group by key(s) or ``_all``; prompt sees ``{{ inputs }}``;
  ``pass_through`` first-row fields; ``_counts_prereduce_<name>``)

Spark realization: Arrow-batched ``mapInPandas`` for the row ops, and
``run_groups`` (hash exchange on the key, sort, ``mapInPandas``) for
reduce; ``judge`` is the one yes/no stage, through which filter keeps
rows and resolve, equijoin and link_resolve keep pairs. The backend
call sits inside the UDF, so per-executor batching/caching lives in the
backend. Model latency overlaps across partitions and, up to
``backend.max_concurrency``, inside each task: ``run_concurrently`` over
a batch's rows, ``run_groups`` over a task's groups.
Gleaning/validation retries and the fold / fold+merge reduce strategies
(semantic_reduce below, reference reduce.py:519-752, 987-1053) are
backend loops layered on the same UDF shape.
"""

from __future__ import annotations

import json

import jinja2
import jinja2.meta
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..backend import ModelBackend
from ..session import widen_scan
from ..types import schema_of, validate_output_types
from .cascade import cascade_router

_ALL = "_all"
_env = jinja2.Environment(undefined=jinja2.StrictUndefined)


@__import__("functools").lru_cache(maxsize=512)
def _compiled(template: str):
    return _env.from_string(template)


def render_prompt(template: str, context: dict) -> str:
    """strict_render analogue (validation.py:42-122): undefined vars raise.
    Templates are compiled once per executor (lru_cache) — compiling per
    row dominated adjudication UDF time at 100k+ pairs."""
    return _compiled(template).render(**context)


def _int_field_names(schema: T.StructType) -> frozenset[str]:
    return frozenset(
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (T.LongType, T.IntegerType, T.ShortType))
    )


def check_int_outputs(res: dict, int_fields: frozenset[str]) -> dict:
    """Raise (inside the per-row error policy, so error_col/skip can
    quarantine the ROW instead of the batch build killing the JOB) when
    an integer-typed output is not a real int. The same rule as
    types.py's _value_conforms: bools and numeric strings are NOT ints
    — pandas' Int64 cast would silently coerce '42'->42 / True->1 and
    hide backend schema drift; non-coercible values ('3.7', 2**70)
    would otherwise surface as an opaque stage-killing TypeError at
    yield time. numbers.Integral (not bare int) so numpy integers from
    passthrough values pass; int64-range-checked so 2**70 raises here,
    not as an OverflowError in the batch build."""
    import numbers

    for k in int_fields:
        v = res.get(k)
        if v is None:
            continue
        if (
            isinstance(v, bool)
            or not isinstance(v, numbers.Integral)
            or not (-(2**63) <= int(v) < 2**63)
        ):
            raise ValueError(
                f"output field {k!r} declared int but model returned {v!r} "
                f"({type(v).__name__})"
            )
    return res


def typed_output_frame(rows: list[dict], schema: T.StructType) -> pd.DataFrame:
    """Build an Arrow batch with nullable Int64 for integer-typed
    fields. A plain pd.DataFrame(rows) infers float64 when a column
    mixes None (an error-policy row, a model no-answer) with ints,
    silently corrupting values above 2^53 before the cast back to long
    — the same hazard streaming's drained_df closes for drain rows.
    Callers validate int fields per row FIRST (check_int_outputs) so a
    bad value raises inside the error policy, not here."""
    data = {}
    for f in schema.fields:
        vals = [r.get(f.name) for r in rows]
        if isinstance(f.dataType, (T.LongType, T.IntegerType, T.ShortType)):
            data[f.name] = pd.array(vals, dtype="Int64")
        else:
            data[f.name] = vals
    return pd.DataFrame(data, columns=schema.fieldNames())


def _merged_schema(df: DataFrame, output_schema: dict, drop: set[str]) -> T.StructType:
    declared = schema_of(output_schema)
    fields = [
        f for f in df.schema.fields if f.name not in declared.fieldNames() and f.name not in drop
    ]
    return T.StructType(fields + [f for f in declared.fields if f.name not in drop])


def run_concurrently(backend: ModelBackend, fn, items: list) -> list:
    """Apply ``fn`` to every item, overlapping up to
    ``backend.max_concurrency`` calls with a thread pool (the reference's
    4×cpu per-op ThreadPoolExecutor, runner.py:156). Results keep input
    order. Serial when concurrency is 1 — pure backends (FakeBackend)
    pay no thread overhead and determinism concerns vanish."""
    conc = int(getattr(backend, "max_concurrency", 1) or 1)
    if conc <= 1 or len(items) <= 1:
        return [fn(it) for it in items]
    from concurrent.futures import ThreadPoolExecutor  # noqa: PLC0415

    with ThreadPoolExecutor(max_workers=min(conc, len(items))) as ex:
        return list(ex.map(fn, items))


def model_says(backend: ModelBackend, output_schema: dict, prompt: str, context,
               agent=None) -> bool:
    """The model's answer to a yes/no question: ``output_schema`` has
    one boolean key, and ``agent`` runs a bounded tool loop in place of
    one completion."""
    (key,) = output_schema
    if agent is not None:
        from ..agents import run_agent  # noqa: PLC0415

        return bool(run_agent(backend, agent, prompt, output_schema, context).get(key))
    return bool(backend.complete(prompt, output_schema, context).get(key))


def pair_question(template: str, names: tuple[str, str], a: dict, b: dict) -> tuple[str, tuple]:
    """Prompt and backend context for a comparison of two rows: the
    template sees them as ``names`` (``input1`` / ``input2`` for
    resolve, ``left`` / ``right`` for equijoin), the backend as the
    2-tuple ``(a, b)``."""
    return render_prompt(template, {names[0]: a, names[1]: b}), (a, b)


def judge(df: DataFrame, render, output_schema: dict, backend: ModelBackend, *,
          op: str, cascade: dict | None = None, agent=None) -> DataFrame:
    """Keep the rows of ``df`` the model answers true, unchanged: the
    one yes/no stage behind filter (rows), resolve and equijoin (pairs)
    and link_resolve (links). ``render(row)`` gives a row's prompt and
    backend context; ``output_schema`` is the one boolean key asked.

    One ``mapInPandas`` over ``df`` as the caller partitioned it (a
    narrow scan widened by ``widen_scan``), overlapping up to
    ``backend.max_concurrency`` rows of a batch (``run_concurrently``).
    Under a ``cascade`` block the cheap proxy may answer first
    (``cascade.cascade_router``; ``op`` names the default guarantee).
    The router calibrates on ``df`` before the widening: a limit over
    a scan reads its first rows, where one over the round-robin
    repartition would shuffle the whole input first."""
    def oracle(prompt, context):
        return model_says(backend, output_schema, prompt, context, agent)

    route = cascade_router(df, render, oracle, backend, cascade, op)

    def ask(row):
        prompt, context = render(row)
        verdict = route(prompt, context) if route else None
        return oracle(prompt, context) if verdict is None else verdict

    def run(batches):
        for pdf in batches:
            keep = run_concurrently(backend, ask, pdf.to_dict("records"))
            yield pdf[pd.Series(keep, index=pdf.index, dtype=bool)] if len(pdf) else pdf

    return widen_scan(df).mapInPandas(run, schema=df.schema)


def _group_key(v):
    """A key value as ``groupBy`` compares it: nulls and NaNs alike
    (pandas delivers a float column's nulls as NaN), arrays and structs
    by value."""
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(map(_group_key, v))
    if isinstance(v, dict):
        return tuple((k, _group_key(x)) for k, x in v.items())
    return None if v is None or v != v else v


def run_groups(df: DataFrame, keys: list[str], fn, schema: T.StructType,
               backend: ModelBackend) -> DataFrame:
    """``df.groupBy(*keys).applyInPandas(fn, schema)``, with up to
    ``backend.max_concurrency`` groups of one task calling the model at
    once (``applyInPandas`` hands Python one group at a time, so a
    task's groups would call the model one after another).

    Rows are hashed on ``keys`` into ``spark.sql.shuffle.partitions``
    partitions and sorted within each: the exchange plus sort a
    ``groupBy`` plans, with the count given explicitly so AQE cannot
    coalesce a small model stage into one task. With no ``keys`` the
    whole frame is one group in one partition. A group ends where the
    key changes between consecutive rows, so null, NaN and list-valued
    keys group as ``groupBy`` groups them; a float key carries a null
    flag so its null and NaN groups stay apart. ``fn`` gets each group
    as one pandas frame, on a pool of ``max_concurrency`` threads. At
    most that many groups plus the one being read are held, and results
    come out in key order."""
    from collections import deque  # noqa: PLC0415
    from concurrent.futures import ThreadPoolExecutor  # noqa: PLC0415

    conc = int(getattr(backend, "max_concurrency", 1) or 1)
    floats = [k for k in keys if isinstance(df.schema[k].dataType, (T.FloatType, T.DoubleType))]
    flags = [f"_rg_null_{k}" for k in floats]
    if keys:
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        df = df.withColumns({f: F.col(k).isNull() for f, k in zip(flags, floats)})
        df = df.repartition(n, *keys).sortWithinPartitions(*keys)
    else:
        df = df.repartition(1)
    key_cols = keys + flags

    def run(batches):
        pool = ThreadPoolExecutor(max_workers=conc)
        pending: deque = deque()  # futures, in key order
        pieces: list[pd.DataFrame] = []  # the group being read
        last = object()

        def flush():
            pending.append(pool.submit(fn, pd.concat(pieces, ignore_index=True).drop(columns=flags)))
            pieces.clear()
            while pending and (len(pending) >= conc or pending[0].done()):
                yield pending.popleft().result()

        try:
            for pdf in batches:
                ks = zip(*(map(_group_key, pdf[c]) for c in key_cols)) if key_cols else [()] * len(pdf)
                start = 0
                for i, k in enumerate(ks):
                    if k != last:
                        if i > start:
                            pieces.append(pdf.iloc[start:i])
                        if pieces:
                            yield from flush()
                        start, last = i, k
                if start < len(pdf):
                    pieces.append(pdf.iloc[start:])
            if pieces:
                yield from flush()
            while pending:
                yield pending.popleft().result()
        finally:
            pool.shutdown(wait=True, cancel_futures=True)

    return df.mapInPandas(run, schema=schema)


def _safe_eval(expr: str, output: dict) -> bool:
    """validate-expression evaluator (validation.py:125-134 uses asteval;
    we restrict eval to an empty-builtins namespace with ``output``)."""
    try:
        return bool(eval(expr, {"__builtins__": {}}, {"output": output}))  # noqa: S307
    except Exception:
        return False


def _complete_with_quality_loop(
    backend: ModelBackend,
    rendered: str,
    output_schema: dict,
    row: dict,
    *,
    validate: list[str] | None,
    num_retries: int,
    gleaning: dict | None,
    strict_types: bool = False,
) -> dict:
    """One row's completion wrapped in the reference's two quality loops:

    - validation retries (map.py:438-466): re-ask up to
      ``num_retries`` times until every ``validate`` expression holds
      and (with ``strict_types``) the output conforms to the declared
      type grammar (validate_output_types, validation.py:250-276); the
      last attempt is kept either way unless strict_types, which raises
      after exhausting retries.
    - gleaning (api.py:365-485): a validator prompt judges the output up
      to ``num_rounds`` times; while it reports needs_improvement, the
      output is regenerated with the feedback appended to the prompt.
    """
    attempts = max(0, num_retries) + 1 if (validate or strict_types) else 1
    res: dict = {}
    problems: list[str] = []
    for attempt in range(attempts):
        suffix = f"\n[retry {attempt}]" if attempt else ""
        res = backend.complete(rendered + suffix, output_schema, row)
        problems = validate_output_types(res, output_schema) if strict_types else []
        if not problems and (not validate or all(_safe_eval(e, res) for e in validate)):
            break
    if strict_types and problems:
        raise ValueError(f"output type validation failed after {attempts} attempts: {problems}")
    if gleaning:
        res = _glean(backend, gleaning, rendered, output_schema, res, {"input": row}, row)
    return res


@__import__("functools").lru_cache(maxsize=512)
def _references_output(template: str) -> bool:
    return "output" in jinja2.meta.find_undeclared_variables(_env.parse(template))


def _glean(backend: ModelBackend, gleaning: dict, rendered: str, output_schema: dict,
           res: dict, scope: dict, context) -> dict:
    """Gleaning (api.py:365-485): a validator prompt, rendered over
    ``scope`` plus ``output``, judges ``res`` up to ``num_rounds`` times;
    while it reports needs_improvement, ``rendered`` is asked again with
    the feedback appended. A validator prompt that does not template
    ``output`` gets the JSON-encoded output appended, so the judge sees
    what it judges (the reference appends it to the conversation)."""
    val_prompt = gleaning.get("validation_prompt", "")
    for _round in range(int(gleaning.get("num_rounds", 1))):
        judge = render_prompt(val_prompt, {**scope, "output": res})
        if not _references_output(val_prompt):
            judge += "\n\nOutput:\n" + json.dumps(res, default=str)
        verdict = backend.complete(
            judge, {"needs_improvement": "bool", "feedback": "str"}, {"row": context, "output": res}
        )
        if not verdict.get("needs_improvement"):
            break
        res = backend.complete(
            rendered + f"\n[feedback round {_round}]: {verdict.get('feedback', '')}",
            output_schema,
            context,
        )
    return res


def _calibration_context(
    df: DataFrame, prompt: str, output_schema: dict, backend: ModelBackend, num_docs: int
) -> str:
    """Calibration pass (map.py:236-341): run the map on a small sample,
    show the model the input→output pairs, ask for reference anchors, and
    append them to every subsequent prompt. Driver-side — the sample is
    ≤ num_calibration_docs rows by construction (reference default 10)."""
    sample = [r.asDict(recursive=True) for r in df.limit(num_docs).collect()]
    pairs = []
    for row in sample:
        rendered = render_prompt(prompt, {"input": row})
        pairs.append((row, backend.complete(rendered, output_schema, row)))
    cal_prompt = (
        "The following prompt was applied to sample documents to generate "
        f'these input-output pairs:\n\n"{prompt}"\n\nSample inputs and their outputs:\n'
    )
    for i, (inp, outp) in enumerate(pairs):
        cal_prompt += f"\n--- Example {i + 1} ---\nInput: {inp}\nOutput: {outp}\n"
    cal_prompt += "\nProvide reference anchors to keep outputs consistent.\nReference anchors:"
    res = backend.complete(cal_prompt, {"calibration_context": "string"}, pairs)
    return str(res.get("calibration_context", ""))



def _fetch_data_url(loc: str) -> str:
    """PDF location -> base64 data URL (reference map.py:425-432), run
    inside the executor task so fetch parallelism = partition width.
    Accepts a passthrough ``data:`` URL, an http(s) URL (requests,
    import-probed — sandbox environments without network use local
    paths), or a filesystem path."""
    import base64

    if loc.startswith("data:"):
        return loc
    if loc.startswith(("http://", "https://")):
        import requests  # noqa: PLC0415 — import-probed optional dep

        resp = requests.get(loc, timeout=60)
        # a 404/500 error page must not be base64'd and handed to the
        # model as "the PDF" — raise so skip_on_error/error_col route it
        resp.raise_for_status()
        data = resp.content
    else:
        with open(loc, "rb") as f:
            data = f.read()
    return "data:application/pdf;base64," + base64.b64encode(data).decode("utf-8")


def _apply_backend_options(backend, model, timeout, litellm_completion_kwargs,
                           max_retries_per_timeout=None):
    """Per-op backend overrides (reference per-op `model` / `timeout` /
    `litellm_completion_kwargs` / `max_retries_per_timeout`,
    frame.py:340-357, base.py:105): change_model directives and YAML
    `model:` keys take effect HERE at runtime."""
    if (model is None and timeout is None and not litellm_completion_kwargs
            and max_retries_per_timeout is None):
        return backend
    opts = {"model": model, "timeout": timeout,
            "litellm_completion_kwargs": litellm_completion_kwargs}
    if max_retries_per_timeout is not None:
        opts["max_retries_per_timeout"] = max_retries_per_timeout
    out = backend.with_options(**opts)
    if max_retries_per_timeout is not None and not hasattr(out, "max_retries"):
        # only the resilience layer implements a retry budget; a bare
        # backend would silently drop the knob (the reference's
        # max_retries_per_timeout lives in its API layer, base.py:105)
        import logging

        logging.getLogger(__name__).warning(
            "max_retries_per_timeout=%s has no effect on %s — wrap the "
            "backend in ResilientBackend to get retries",
            max_retries_per_timeout, type(out).__name__,
        )
    return out

def semantic_map(
    df: DataFrame,
    prompt: str,
    output_schema: dict,
    backend: ModelBackend,
    *,
    drop_keys: list[str] | None = None,
    limit: int | None = None,
    validate: list[str] | None = None,
    num_retries_on_validate_failure: int = 0,
    gleaning: dict | None = None,
    observability: str | None = None,
    strict_types: bool = False,
    batch_prompt: str | None = None,
    max_batch_size: int = 16,
    calibrate: bool = False,
    num_calibration_docs: int = 10,
    retriever=None,
    retrieved_context_col: str | None = None,
    save_retriever_output: bool = False,
    agent=None,
    model: str | None = None,
    timeout: float | None = None,
    litellm_completion_kwargs: dict | None = None,
    max_retries_per_timeout: int | None = None,
    skip_on_error: bool = False,
    error_col: str | None = None,
    pdf_url_key: str | None = None,
) -> DataFrame:
    """Per-row semantic transform. ``observability=<name>`` adds an
    ``_observability_<name>`` column carrying the rendered prompt
    (map.py:514-518).

    ``pdf_url_key`` (reference map.py:54,415-437): names a column whose
    value is a PDF location — a local/DFS path, an http(s) URL, or a
    ready ``data:`` URL. Each row's bytes are fetched EXECUTOR-SIDE,
    base64-encoded and passed to the backend as an attachment content
    block ahead of the prompt (``complete_with_attachments``;
    LiteLLMBackend builds the litellm image_url message, deterministic
    backends ignore the block). Remote fetch needs ``requests``; poison
    documents compose with ``skip_on_error``/``error_col``.

    ``skip_on_error`` (reference map.py:595-611, base.py:113): a row
    whose model call still fails after the resilience layer's retries is
    DROPPED instead of failing the job — at corpus scale a 10-hour run
    must survive a handful of poison rows. ``error_col=<name>`` is the
    quarantine variant: the row is KEPT with null outputs and the error
    message in ``<name>`` (empty string on success), so failures stay
    visible and re-runnable (``df.filter("<name> <> ''")``). Mutually
    exclusive. With ``batch_prompt`` the failure unit is the batched
    call, so a poison batch skips/annotates ``max_batch_size`` rows —
    use the per-row path when per-row isolation matters.

    ``retrieved_context_col`` names a PRECOMPUTED context column (from
    retrievers.retrieve_context_join — the distributed batch-retrieval
    path): prompts read ``{{ retrieved_context }}`` from it with no
    per-row retriever calls. Mutually exclusive with ``retriever``.

    ``batch_prompt`` (rendered with ``{{ inputs }}``; map.py:532-560)
    processes up to ``max_batch_size`` rows per model call via
    ``backend.complete_batch`` — one call amortizes latency across the
    batch, and Arrow batch boundaries keep it executor-local. The quality
    loops (validate/gleaning) apply per-row and force the single-row path.

    ``calibrate`` (map.py:236-341) runs the prompt over
    ``num_calibration_docs`` sample rows first and appends
    model-suggested reference anchors to the prompt for the full run.

    ``retriever`` (a prepared retrievers.BroadcastRetriever; reference
    map.py:519-523 + retrievers/) fetches per-row context before each
    call — the prompt may reference ``{{ retrieved }}`` (doc list) and
    ``{{ retrieved_context }}`` (rendered block). ``save_retriever_output``
    adds a ``_retrieved_context`` column (map.py:520-523).

    ``agent`` (an agents.Agent; reference frame.py:347, map.py:44,493):
    each row runs a bounded executor-side tool loop instead of one
    completion. Mutually exclusive with gleaning (map.py:102)."""
    if agent is not None and gleaning is not None:
        raise ValueError("agent and gleaning are mutually exclusive (reference map.py:102)")
    if retriever is not None and retrieved_context_col is not None:
        raise ValueError("pass either retriever or retrieved_context_col, not both")
    if retrieved_context_col is not None and retrieved_context_col not in df.columns:
        raise ValueError(
            f"retrieved_context_col {retrieved_context_col!r} not in input columns "
            f"{df.columns} — run retrievers.retrieve_context_join first"
        )
    if skip_on_error and error_col:
        raise ValueError("skip_on_error and error_col are mutually exclusive")
    if pdf_url_key is not None and agent is not None:
        raise ValueError("pdf_url_key and agent are mutually exclusive")
    if pdf_url_key is not None and (validate or gleaning):
        raise ValueError(
            "pdf_url_key does not compose with validate/gleaning yet — the "
            "quality loops re-ask without the attachment; run them as a "
            "separate map over the extracted output instead"
        )
    backend = _apply_backend_options(backend, model, timeout, litellm_completion_kwargs,
                                     max_retries_per_timeout)
    if not output_schema and drop_keys:
        return df.drop(*drop_keys)  # drop-keys-only fast path (map.py:358-372)
    if limit is not None:
        df = df.limit(limit)
    if calibrate:
        ctx = _calibration_context(df, prompt, output_schema, backend, num_calibration_docs)
        if ctx:
            prompt = prompt + "\n\nReference anchors for consistency:\n" + ctx
    if retriever is not None:
        retriever.ensure_index()  # driver-side; index ships in the closure
    drop = set(drop_keys or [])
    out_schema = _merged_schema(df, output_schema, drop)
    obs_col = f"_observability_{observability}" if observability else None
    if obs_col:
        out_schema = T.StructType(list(out_schema.fields) + [T.StructField(obs_col, T.StringType(), True)])
    ret_col = "_retrieved_context" if (retriever is not None and save_retriever_output) else None
    if ret_col:
        out_schema = T.StructType(list(out_schema.fields) + [T.StructField(ret_col, T.StringType(), True)])
    if error_col:
        out_schema = T.StructType(list(out_schema.fields) + [T.StructField(error_col, T.StringType(), True)])
    out_names = out_schema.fieldNames()
    # int-typed fields the BACKEND fills: checked per row so a bad value
    # raises inside the error policy (quarantinable), not at batch build
    declared_ints = _int_field_names(schema_of(output_schema)) & set(out_names)
    # pdf attachments need the per-row path (one attachment per call)
    use_batch = batch_prompt is not None and not (
        validate or gleaning or strict_types or retriever or agent or pdf_url_key
    )

    def _failed(row, exc) -> dict | None:
        # poison-row policy: quarantine (keep, outputs null, message in
        # error_col), skip (drop), or propagate (default — job fails)
        if error_col:
            merged = {**row, error_col: f"{type(exc).__name__}: {exc}"}
            return {k: merged.get(k) for k in out_names}
        if skip_on_error:
            return None
        raise exc

    def run(batches):
        for pdf in batches:
            rows = pdf.to_dict("records")
            out = []
            if use_batch:
                for i in range(0, len(rows), max_batch_size):
                    chunk = rows[i : i + max_batch_size]
                    rendered = render_prompt(batch_prompt, {"inputs": chunk})
                    try:
                        results = backend.complete_batch(rendered, output_schema, chunk)
                    except Exception as e:  # noqa: BLE001 — policy decides
                        if not (skip_on_error or error_col):
                            raise
                        out.extend(r for r in (_failed(row, e) for row in chunk) if r is not None)
                        continue
                    for row, res in zip(chunk, results):
                        merged = {**row, **res}
                        if obs_col:
                            merged[obs_col] = rendered
                        if error_col:
                            merged[error_col] = ""
                        try:
                            out.append(check_int_outputs(
                                {k: merged.get(k) for k in out_names}, declared_ints
                            ))
                        except Exception as e:  # noqa: BLE001 — policy decides
                            if not (skip_on_error or error_col):
                                raise
                            r = _failed(row, e)
                            if r is not None:
                                out.append(r)
            else:
                def one(row):
                    ctx = {"input": row}
                    if retriever is not None:
                        rr = retriever.retrieve(row)
                        ctx["retrieved"] = rr.docs
                        ctx["retrieved_context"] = rr.rendered_context
                    elif retrieved_context_col is not None:
                        ctx["retrieved"] = []
                        ctx["retrieved_context"] = row.get(retrieved_context_col) or ""
                    rendered = render_prompt(prompt, ctx)
                    if pdf_url_key is not None:
                        if pdf_url_key not in row:
                            raise ValueError(
                                f"pdf_url_key {pdf_url_key!r} not found in input data"
                            )
                        res = backend.complete_with_attachments(
                            rendered, output_schema, row,
                            [{"type": "pdf", "data_url": _fetch_data_url(row[pdf_url_key])}],
                        )
                    elif agent is not None:
                        from ..agents import run_agent

                        res = run_agent(backend, agent, rendered, output_schema, row)
                    else:
                        res = _complete_with_quality_loop(
                            backend, rendered, output_schema, row,
                            validate=validate, num_retries=num_retries_on_validate_failure,
                            gleaning=gleaning, strict_types=strict_types,
                        )
                    merged = {**row, **res}
                    if obs_col:
                        merged[obs_col] = rendered
                    if ret_col:
                        merged[ret_col] = ctx.get("retrieved_context", "")
                    if error_col:
                        merged[error_col] = ""
                    return check_int_outputs(
                        {k: merged.get(k) for k in out_names}, declared_ints
                    )

                fn = one
                if skip_on_error or error_col:
                    def fn(row):  # noqa: F811 — policy wrapper
                        try:
                            return one(row)
                        except Exception as e:  # noqa: BLE001
                            return _failed(row, e)

                out.extend(r for r in run_concurrently(backend, fn, rows) if r is not None)
            yield typed_output_frame(out, out_schema)

    return widen_scan(df).mapInPandas(run, schema=out_schema)


def semantic_parallel_map(
    df: DataFrame,
    prompts: list[dict],
    output_schema: dict,
    backend: ModelBackend,
    *,
    drop_keys: list[str] | None = None,
) -> DataFrame:
    """``prompts`` entries: {"prompt": str, "output_keys": [k, ...]} — each
    fills a disjoint slice of the declared schema (map.py:717-985)."""
    drop = set(drop_keys or [])
    out_schema = _merged_schema(df, output_schema, drop)
    out_names = out_schema.fieldNames()
    declared_ints = _int_field_names(schema_of(output_schema)) & set(out_names)

    def run(batches):
        for pdf in batches:
            out = []
            for row in pdf.to_dict("records"):
                merged = dict(row)
                for spec in prompts:
                    sub_schema = {k: output_schema[k] for k in spec["output_keys"]}
                    rendered = render_prompt(spec["prompt"], {"input": row})
                    merged.update(backend.complete(rendered, sub_schema, row))
                # no error policy here — raise a DIAGNOSABLE error per
                # row rather than a batch-build TypeError
                out.append(check_int_outputs(
                    {k: merged.get(k) for k in out_names}, declared_ints
                ))
            yield typed_output_frame(out, out_schema)

    return widen_scan(df).mapInPandas(run, schema=out_schema)


def semantic_filter(
    df: DataFrame,
    prompt: str,
    output_schema: dict,
    backend: ModelBackend,
    *,
    cascade: dict | None = None,
    limit: int | None = None,
    agent=None,
    model: str | None = None,
    timeout: float | None = None,
    litellm_completion_kwargs: dict | None = None,
) -> DataFrame:
    """LLM boolean predicate: the rows ``judge`` keeps. Two cascade
    modes (filter.py:161-224 + cascade_runner.py), both through
    ``cascade.cascade_router``:

    - ``cascade={"proxy_threshold": p}``: fixed threshold — rows whose
      proxy confidence clears ``p`` take the proxy label, the rest
      escalate to the full completion.
    - ``cascade={"guarantee": "recall"|"precision"|"accuracy",
      "target": 0.9, "delta": 0.05, "label_budget": 400}``:
      BARGAIN-style calibration — oracle-label a bounded sample, pick
      the threshold meeting the target with probability 1-delta
      (operators/cascade.py), then route rows per the guarantee:
      recall rejects proxy-low rows without an oracle call, precision
      accepts proxy-high rows, accuracy trusts confident proxy labels.

    ``limit`` terminates on OUTPUTS: the first N surviving rows
    (filter.py:124-133, ``_limit_applies_to_inputs`` False — contrast
    with map, whose limit truncates inputs). Spark plans it as a
    LocalLimit above the UDF, so tasks stop early once satisfied."""
    backend = _apply_backend_options(backend, model, timeout, litellm_completion_kwargs)
    keys = [k for k in output_schema]
    if len(keys) != 1 or str(output_schema[keys[0]]).lower() not in ("bool", "boolean"):
        raise ValueError("filter output schema must be exactly one boolean key (filter.py:53-71)")

    def render(row):
        return render_prompt(prompt, {"input": row}), row

    out = judge(df, render, output_schema, backend, op="filter", cascade=cascade, agent=agent)
    return out.limit(limit) if limit is not None else out


def semantic_reduce(
    df: DataFrame,
    reduce_key: str | list[str],
    prompt: str,
    output_schema: dict,
    backend: ModelBackend,
    *,
    name: str = "reduce",
    pass_through: bool = False,
    add_count: bool = True,
    sort_within_group: list | None = None,
    fold_prompt: str | None = None,
    fold_batch_size: int | None = None,
    merge_prompt: str | None = None,
    merge_batch_size: int | None = None,
    num_parallel_folds: int = 4,
    associative: bool = True,
    distribute_folds: bool | str = False,
    lineage_keys: list[str] | None = None,
    value_sampling: dict | None = None,
    limit: int | None = None,
    persist_intermediates: bool = False,
    gleaning: dict | None = None,
    agent=None,
    model: str | None = None,
    timeout: float | None = None,
    litellm_completion_kwargs: dict | None = None,
) -> DataFrame:
    """Group aggregate through the backend.

    ``persist_intermediates`` (reference reduce.py:444-450,567-625)
    attaches ``_{name}_intermediates``: the JSON-encoded accumulator
    state after every fold batch (and each parallel-fold partial), so a
    user can audit how the final answer evolved. Whole-group feature —
    incompatible with distribute_folds.

    ``limit`` keeps only the N SMALLEST groups (reduce.py:301-305 —
    cheapest groups first; ties broken by key for determinism). Group
    sizes are counted first and the surviving keys broadcast-semi-joined,
    so dropped groups never reach the model.

    Strategies (reduce.py:519-752, 987-1053): default = one-shot batch
    call over the whole item list. ``fold_prompt`` + ``fold_batch_size``
    = incremental fold (sequential batches, accumulator in
    ``{{ output }}``). ``merge_prompt`` additionally folds
    ``num_parallel_folds`` item stripes independently then merges their
    outputs (the associative parallel plan). Every strategy runs on one
    group's pandas frame inside ``run_groups``, which keeps up to
    ``backend.max_concurrency`` of a task's groups in flight; the group
    is already executor-local, so fold/merge manages LLM context
    windows, not distribution.

    ``lineage_keys`` adds ``{name}_lineage``: list of per-item structs of
    the given keys (reduce.py:409-418). ``value_sampling``
    {"method": "first"|"stride", "size": N} truncates the item list seen
    by the prompt (reduce.py:331-354).

    ``sort_within_group`` pins item order inside the prompt (Spark group
    iteration order is nondeterministic otherwise — required for
    reproducible/oracle-checkable outputs).

    ``gleaning`` {"num_rounds", "validation_prompt"} (reduce.py
    _batch_reduce) judges each group's one-shot output — the validation
    prompt sees ``inputs``, ``reduce_key`` and ``output`` — and asks the
    reduce prompt again with the judge's feedback while it reports
    needs_improvement. One-shot only: it does not compose with
    ``fold_prompt`` or ``agent``.

    ``associative=False`` (reduce.py:62,356-357) disables every
    merge-based parallel plan: items fold SEQUENTIALLY in
    ``sort_within_group`` order, because a non-associative combine is
    only correct as one ordered chain. ``merge_batch_size`` chunks the
    merge of parallel-fold partials into a hierarchical merge tree when
    the partial count exceeds one call's budget.

    ``distribute_folds=True`` (needs fold_prompt + merge_prompt)
    distributes the parallel-fold plan ACROSS TASKS instead of inside
    one: rows are salted into ``num_parallel_folds`` stripes
    (deterministic content hash), each (group, stripe) folds in its own
    task, then a second grouped pass merges the partial outputs (sorted
    by stripe id for reproducibility). This is the skew escape hatch —
    a giant group no longer lands in a single task, so
    max task size is group/num_parallel_folds. The fold/merge contract
    is associative by definition (reduce.py:987-1053), which is what
    makes the two-stage plan faithful.

    ``distribute_folds="auto"`` gates the promotion on an associativity
    probe (plans/reduce_probe.py; reference reduce_optimizer.py
    _is_associative :953-1018): an agent verdict on the prompts PLUS an
    empirical replay of the fold over one sampled group in two input
    orders. Both must agree the fold commutes; otherwise the reduce
    falls back to a single ordered chain (``associative=False``).
    """
    backend = _apply_backend_options(backend, model, timeout, litellm_completion_kwargs)
    if gleaning and (fold_prompt or agent is not None):
        raise ValueError("reduce gleaning judges the one-shot output: it does not "
                         "compose with fold_prompt or agent")
    if merge_batch_size is not None and merge_batch_size < 2:
        # a 1-at-a-time (or negative) merge pass never shrinks the
        # partial list — the while-loop below would spin forever making
        # unbounded model calls
        raise ValueError(f"merge_batch_size must be >= 2, got {merge_batch_size}")
    keys = [reduce_key] if isinstance(reduce_key, str) else list(reduce_key)
    global_agg = keys == [_ALL]
    group_keys = [] if global_agg else keys
    if not global_agg:
        # list-valued keys group as sorted tuples (reduce.py:274-299):
        # [b, a] and [a, b] are the same group — normalize in place so the
        # emitted key column is the sorted form, like the reference
        for k in keys:
            if isinstance(df.schema[k].dataType, T.ArrayType):
                df = df.withColumn(k, F.array_sort(F.col(k)))
    if limit is not None and not global_agg:
        sizes = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("_gsz"))
        keep = sizes.orderBy(F.col("_gsz").asc(), *[F.col(k).asc() for k in keys]).limit(limit)
        keep = keep.select(*[F.col(k).alias(f"_keep_{k}") for k in keys])
        # null-safe: a null key is a group too, and may be among the smallest
        same = F.lit(True)
        for k in keys:
            same = same & F.col(k).eqNullSafe(F.col(f"_keep_{k}"))
        df = df.join(F.broadcast(keep), same, "left_semi")
    count_col = f"_counts_prereduce_{name}"
    lineage_col = f"{name}_lineage"
    inter_col = f"_{name}_intermediates"

    declared = schema_of(output_schema)
    fields: list[T.StructField] = []
    if not global_agg:
        fields += [f for f in df.schema.fields if f.name in keys]
    if pass_through:
        claimed = set(declared.fieldNames()) | set(keys) | {count_col}
        fields += [f for f in df.schema.fields if f.name not in claimed and f.name not in keys]
    fields += list(declared.fields)
    if add_count:
        fields.append(T.StructField(count_col, T.LongType(), True))
    if lineage_keys:
        lineage_struct = T.ArrayType(T.StructType(
            [T.StructField(k, df.schema[k].dataType, True) for k in lineage_keys]
        ))
        fields.append(T.StructField(lineage_col, lineage_struct, True))
    if persist_intermediates:
        fields.append(T.StructField(inter_col, T.ArrayType(T.StringType()), True))
    out_schema = T.StructType(fields)
    out_names = out_schema.fieldNames()

    def call_once(items, rk):
        rendered = render_prompt(prompt, {"inputs": items, "reduce_key": rk})
        if agent is not None:  # per-group tool loop (reference frame.py:480)
            from ..agents import run_agent

            return run_agent(backend, agent, rendered, output_schema, items)
        res = backend.complete(rendered, output_schema, items)
        if gleaning:
            scope = {"inputs": items, "reduce_key": rk}
            res = _glean(backend, gleaning, rendered, output_schema, res, scope, items)
        return res

    def fold(items, rk, trace=None):
        acc: dict | None = None
        bs = fold_batch_size or len(items) or 1
        for i in range(0, len(items), bs):
            batch = items[i : i + bs]
            if acc is None:
                acc = call_once(batch, rk)
            else:
                rendered = render_prompt(fold_prompt, {"inputs": batch, "output": acc, "reduce_key": rk})
                acc = backend.complete(rendered, output_schema, batch)
            if trace is not None:
                trace.append(json.dumps(acc, sort_keys=True, default=str))
        return acc or {}

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        if sort_within_group:
            pdf = pdf.sort_values(sort_within_group, kind="mergesort")
        items = pdf.to_dict("records")
        rk = {k: items[0][k] for k in keys if not global_agg}
        prompt_items = items
        if value_sampling:
            size = int(value_sampling.get("size", len(items)))
            if value_sampling.get("method") == "stride" and size < len(items):
                stride = max(1, len(items) // size)
                prompt_items = items[::stride][:size]
            else:
                prompt_items = items[:size]
        trace: list | None = [] if persist_intermediates else None
        if fold_prompt and merge_prompt and associative and len(prompt_items) > (fold_batch_size or 1):
            stripes = [prompt_items[i::num_parallel_folds] for i in range(num_parallel_folds)]
            partials = [fold(s, rk, trace) for s in stripes if s]
            while merge_batch_size and len(partials) > merge_batch_size:
                # hierarchical merge: fold partials merge_batch_size at a
                # time until one call's budget holds them all
                nxt = []
                for i in range(0, len(partials), merge_batch_size):
                    chunk = partials[i : i + merge_batch_size]
                    rendered = render_prompt(merge_prompt, {"outputs": chunk, "reduce_key": rk})
                    nxt.append(backend.complete(rendered, output_schema, chunk))
                partials = nxt
            rendered = render_prompt(merge_prompt, {"outputs": partials, "reduce_key": rk})
            res = backend.complete(rendered, output_schema, partials)
        elif fold_prompt:
            res = fold(prompt_items, rk, trace)
        else:
            res = call_once(prompt_items, rk)
        row: dict = {}
        if pass_through and items:
            row.update(items[0])
        if not global_agg:
            for k in keys:
                row[k] = items[0][k]
        row.update(res)
        if add_count:
            row[count_col] = len(items)
        if lineage_keys:
            row[lineage_col] = [{k: it.get(k) for k in lineage_keys} for it in items]
        if persist_intermediates:
            row[inter_col] = trace or []
        return pd.DataFrame([{k: row.get(k) for k in out_names}], columns=out_names)

    if distribute_folds == "auto":
        # associativity-gated promotion (reference reduce_optimizer
        # _is_associative :953-1018 tags its synthesized fold plans):
        # probe ONE sampled group — agent verdict + an empirical replay
        # of the fold under two reorderings — and distribute only when
        # both agree the fold commutes. A wrong promotion is a silent
        # correctness bug, so the gate is conservative.
        if not (fold_prompt and merge_prompt):
            raise ValueError("distribute_folds='auto' needs fold_prompt + merge_prompt")
        from ..plans.reduce_probe import should_parallelize_fold

        probe = should_parallelize_fold(
            df, backend, reduce_key=keys, prompt=prompt, fold_prompt=fold_prompt,
            output_schema=output_schema, fold_batch_size=fold_batch_size,
            sort_within_group=sort_within_group,
        )
        distribute_folds = probe.parallelize
        if not probe.parallelize:
            # the same evidence also invalidates the IN-TASK parallel
            # fold+merge plan — fall back to one ordered chain
            associative = False
    if distribute_folds:
        if not (fold_prompt and merge_prompt):
            raise ValueError("distribute_folds needs fold_prompt + merge_prompt")
        if value_sampling or pass_through or lineage_keys or persist_intermediates:
            raise ValueError(
                "distribute_folds is incompatible with value_sampling/"
                "pass_through/lineage_keys/persist_intermediates "
                "(whole-group features)"
            )
        # deterministic content-hash stripe: same rows -> same stripe on
        # any partitioning/run (rand() would break reproducibility)
        salt = F.pmod(
            F.xxhash64(*[F.col(c).cast("string") for c in df.columns]),
            F.lit(num_parallel_folds),
        ).alias("_stripe")
        salted = df.withColumn("_stripe", salt)

        part_fields: list[T.StructField] = []
        if not global_agg:
            part_fields += [f for f in df.schema.fields if f.name in keys]
        part_fields.append(T.StructField("_stripe", T.LongType(), True))
        part_fields += list(declared.fields)
        part_fields.append(T.StructField("_n", T.LongType(), True))
        part_schema = T.StructType(part_fields)
        part_names = part_schema.fieldNames()

        def fold_stripe(pdf: pd.DataFrame) -> pd.DataFrame:
            if sort_within_group:
                pdf = pdf.sort_values(sort_within_group, kind="mergesort")
            items = pdf.drop(columns=["_stripe"]).to_dict("records")
            rk = {k: items[0][k] for k in keys if not global_agg}
            res = fold(items, rk)
            row = {**{k: items[0][k] for k in keys if not global_agg}, **res}
            row["_stripe"] = int(pdf["_stripe"].iloc[0])
            row["_n"] = len(items)
            return pd.DataFrame([{k: row.get(k) for k in part_names}], columns=part_names)

        partials_df = run_groups(salted, [*group_keys, "_stripe"], fold_stripe,
                                 part_schema, backend)

        def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("_stripe", kind="mergesort")
            rk = {k: pdf.iloc[0][k] for k in keys if not global_agg}
            outs = pdf[declared.fieldNames()].to_dict("records")
            if len(outs) == 1:
                res = outs[0]
            else:
                rendered = render_prompt(merge_prompt, {"outputs": outs, "reduce_key": rk})
                res = backend.complete(rendered, output_schema, outs)
            row: dict = {**rk, **res}
            if add_count:
                row[count_col] = int(pdf["_n"].sum())
            return pd.DataFrame([{k: row.get(k) for k in out_names}], columns=out_names)

        return run_groups(partials_df, group_keys, merge_group, out_schema, backend)

    return run_groups(df, group_keys, agg, out_schema, backend)
