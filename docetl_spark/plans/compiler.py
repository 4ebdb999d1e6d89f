"""Compile lifted op configs onto SemanticFrame pipelines.

Reference lifecycle: /root/reference/docetl/runner.py:187-224 (config ->
plan -> rewrite -> lower), containers.py:549-604 (physical DAG). Here
the "physical DAG" is the DataFrame lineage itself: each step compiles
scan -> ops, each op's output materialized as a local checkpoint before
the next op runs (and stored as a Checkpointer checkpoint when one is
configured), and step outputs are registered as temp views for later
steps (containers.py:514).

Each op runs as ``getattr(sf, verb)(**config)``: ``ir.OP_TYPES`` names
the verb and lists what differs from "each key is the verb's parameter"
(renamed keys, keys naming a dataset, SQL-expression aggregates, lists
that become tuples). A key the verb does not take raises TypeError.

Code ops in config form carry Python source strings which are exec'd in
an isolated namespace (the reference execs user parser/code-op source
from config too, dataset.py:442-453, code_operations.py) — this is a
trusted-config execution model, same as the reference.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import Observation, SparkSession, functions as F

from ..backend import FakeBackend, ModelBackend
from ..frame import SemanticFrame, unpersist
from ..progress import ProgressTracker, active_tracker, render_line
from .ir import OP_TYPES, OpSpec, lift, lower
from .rewrite import rewrite


def _expr_aggs(aggs: dict) -> dict:
    """YAML aggregate encoding -> Column dict: values are SQL expression
    strings (``{"n": "count(1)", "cents": "sum(_cents)"}``)."""
    if not isinstance(aggs, dict) or not all(isinstance(v, str) for v in aggs.values()):
        raise ValueError(
            "YAML aggs must be a {name: 'sql expression'} mapping, got "
            f"{aggs!r}"
        )
    return {name: F.expr(expr) for name, expr in aggs.items()}


def apply_op(sf: SemanticFrame, spec: OpSpec, datasets: dict[str, SemanticFrame]) -> SemanticFrame:
    """Run one op as ``getattr(sf, verb)(**config)``. One pass over the
    config, read from ``ir.OP_TYPES``, first turns dataset names into
    frames, YAML aggregates into Columns and keys into the verb's
    parameter names; a key the verb does not take raises TypeError."""
    t = spec.type
    # planner keys never reach the operators: the per-op `optimize` pin
    # and internal markers (directives.py flags like _keep_fraction,
    # _chained, _shrinks_tokens)
    c = {k: v for k, v in spec.config.items() if k != "optimize" and not k.startswith("_")}
    # sample-at-op shorthand: any op config may carry `sample: N`, which
    # truncates its input (containers.py:454-455)
    n_sample = c.pop("sample", None)
    if n_sample:
        sf = sf.limit(int(n_sample))
    op = OP_TYPES.get(t)
    if op is None:
        # plugin operators: entry-point group docetl_spark.operators or
        # register_operator() (reference operations/__init__.py:54-76)
        from ..plugins import get_operator

        plugin = get_operator(t)
        if plugin is None:
            raise ValueError(f"unknown op type {t!r}")
        return plugin(sf, dict(spec.config), datasets)
    if not op.takes_name:
        c.pop("name", None)
    for k in op.datasets:
        if k in c:
            c[k] = datasets[c[k]]
    # YAML carries aggregates as {name: "sql expression"} strings (the
    # verbs take Column objects)
    for k in op.sql_aggs:
        if c.get(k):
            c[k] = _expr_aggs(c[k])
    for k in op.tuples:
        if k in c:
            v = c[k]
            c[k] = {n: tuple(x) for n, x in v.items()} if isinstance(v, dict) else tuple(v)
    schema = (c.pop("output", None) or {}).get("schema")
    if schema is not None:
        c["output_schema"] = schema
    for key, param in op.renames:
        if key in c:
            if c.get(param) is not None:
                raise TypeError(f"{t} takes `{key}` or `{param}`, not both")
            c[param] = c.pop(key)
    return getattr(sf, op.verb or t)(**c)


def _empirical_evaluator(sf, datasets, backend, stats, *, sample_rows: int = 20):
    """Build the MOAR simulate-phase evaluator (MOARSearch.py:271-326
    analogue): execute a candidate op list on a cached SAMPLE of the step
    input and return (measured backend calls, heuristic quality). Cost is
    counted with Spark accumulators through a cache-bypassing
    ResilientBackend, so every candidate pays its true per-row call
    count; non-executable candidates return (inf, 0) and fall out of the
    frontier."""
    from ..frame import SemanticFrame
    from ..resilience import BackendMetrics, ResilientBackend
    from .directives import estimate_quality

    sample_df = sf.df.limit(sample_rows).cache()
    sc = sample_df.sparkSession.sparkContext

    def evaluate(ops):
        metrics = BackendMetrics(sc)
        counted = (
            ResilientBackend(backend, namespace="moar_eval", bypass_cache=True, metrics=metrics)
            if backend is not None else None
        )
        trial = SemanticFrame.from_df(sample_df, backend=counted)
        try:
            for spec in lower(ops):
                spec = OpSpec(spec["type"], {k: v for k, v in spec.items() if k != "type"})
                trial = apply_op(trial, spec, datasets)
            trial.df.count()  # the action that drives executor-side calls
        except Exception:
            return float("inf"), 0.0
        return float(metrics.snapshot()["calls"]), estimate_quality(ops, stats)

    return evaluate


def run_pipeline(
    spark: SparkSession,
    config: dict,
    *,
    backend: ModelBackend | None = None,
    checkpointer=None,
    progress=False,
    tracker=None,
) -> SemanticFrame:
    """Execute a reference-shaped pipeline config:

    ``datasets``: {name: {type: file|memory, path|data, format?}}
    ``operations``: [{name, type, ...}]
    ``pipeline``: {steps: [{name, input, operations: [opname...]}],
                   output?: {path}}

    Returns the final step's SemanticFrame; writes output if configured.

    Each op's output is materialized once before the next op runs, like
    the reference, whose ops each hand the next a full list with no
    lineage: one eager ``localCheckpoint`` (blocks kept MEMORY_AND_DISK
    by the executors), with the row count observed on that same job.
    The next op's plan starts at that checkpoint, a leaf, so plans do
    not grow with the pipeline, and the eager jobs inside resolve,
    equijoin and blocking never recompute the model stages above it: a
    model call happens once per row per op. An op's output is released
    once its successor is materialized. Each step's output is
    registered as a temp view named after the step. When the run ends,
    the output of a step that the next step continued (it has no
    ``input``) is released and its view dropped, like an op's output
    inside a step; the other step outputs stay readable through their
    views while those exist. The result's checkpoint is released by the
    returned frame's ``collect()`` / ``release_caches()``, after which
    its ``df`` and view read the collected rows; its ``count()`` is the
    observed count. A checkpoint hit takes the same per-op path as a
    miss.

    ``progress`` and ``tracker`` only report. ``progress`` (False | True
    | callable) emits ``progress.render_line`` for each op as it
    finishes; True prints, a callable receives each line. ``tracker``
    (progress.ProgressTracker | None) records the lifecycle as
    structured state: ops registered up front in pipeline order,
    op_start / op_done with out_count and wall, pipeline_done; UIs poll
    tracker.snapshot() (or .to_dict()). Without one,
    progress.active_tracker() is used, else a private tracker.
    """
    backend = backend or FakeBackend()
    emit = (print if progress is True else progress) if progress else None
    tracker = tracker or active_tracker() or ProgressTracker()
    ops_by_name = {o["name"]: o for o in config.get("operations", [])}
    tracker.pipeline_start([
        (step["name"], ops_by_name[n]["name"], ops_by_name[n]["type"],
         ops_by_name[n].get("model"))
        for step in config["pipeline"]["steps"]
        for n in step.get("operations", [])
        if n in ops_by_name
    ])

    if config.get("validate", True):
        # lint before any Spark job (reference plan/analysis.py:152-160);
        # errors abort up front with every finding listed, warnings ride
        # along in the result's op_log
        from .validate import validate_config

        issues = validate_config(config)
        errors = [i for i in issues if i.level == "error"]
        if errors:
            raise ValueError("invalid pipeline config:\n" + "\n".join(str(i) for i in errors))
        validation_notes = [str(i) for i in issues]
    else:
        validation_notes = []

    datasets: dict[str, SemanticFrame] = {}
    for name, d in config.get("datasets", {}).items():
        if d.get("type") == "memory":
            datasets[name] = SemanticFrame.from_list(spark, d["data"], backend=backend)
        else:
            path = d["path"]
            fmt = d.get("format") or path.rsplit(".", 1)[-1]
            reader = {"json": SemanticFrame.read_json, "csv": SemanticFrame.read_csv,
                      "parquet": SemanticFrame.read_parquet}[fmt]
            sfd = reader(spark, path, backend=backend)
            # epoch_nanos: [col, ...] — fold timestamp-ish columns to
            # epoch-ns BIGINT (wall-clock arithmetic, session-timezone
            # independent) so the time-series ops' integer math has one
            # canonical representation. TIMESTAMP_NTZ cannot even
            # cast("long"), so specs over raw parquet need this.
            for col in d.get("epoch_nanos") or []:
                from ..sources.readers import normalize_epoch_nanos

                sfd = sfd._next(
                    normalize_epoch_nanos(sfd.df, col), "epoch_nanos", col=col
                )
            datasets[name] = sfd

    optimize_cfg = config.get("optimize")
    last: SemanticFrame | None = None
    last_name: str | None = None
    rewrites_fired: list[str] = []
    step_outputs = {}  # step name -> its output's checkpoint
    continued = set()  # steps whose output the next step continues (it has no `input`)
    dataset_configs = config.get("datasets", {})
    for step in config["pipeline"]["steps"]:
        sf = datasets[step["input"]] if "input" in step else last
        if "input" not in step:
            continued.add(last_name)
        if checkpointer is not None:
            # input token: the dataset's declared config (path/data) when
            # the step reads a named dataset, else the upstream step name
            # — a changed input path must invalidate downstream caches
            token = (
                {"dataset": step["input"], "config": dataset_configs.get(step["input"])}
                if "input" in step else {"upstream": True}
            )
            checkpointer.begin_step(token)
        step_configs = [ops_by_name[n] for n in step.get("operations", [])]
        specs = lift(step_configs)
        if optimize_cfg:
            # offline directive search (reference `optimize: true` build
            # path, SURVEY §4.3): NOT equivalence-preserving — trades
            # accuracy/cost per the configured objective
            from .directives import PlanStats, moar_search, optimize_ops

            opts = optimize_cfg if isinstance(optimize_cfg, dict) else {}
            stats = PlanStats(**opts.get("stats", {}))
            agent = backend if opts.get("agentic") else None
            if opts.get("method") == "moar":
                evaluate = None
                if opts.get("empirical") and sf is not None:
                    # reference simulate phase: run each candidate on a
                    # SAMPLE of the step input, cost = measured backend
                    # calls (accumulator metrics), quality = the static
                    # heuristic (callers with labels pass their own
                    # moar_search(evaluate=...) for true accuracy)
                    evaluate = _empirical_evaluator(
                        sf, datasets, backend, stats,
                        sample_rows=int(opts.get("sample_rows", 20)),
                    )
                result = moar_search(
                    specs, stats, backend=agent, evaluate=evaluate,
                    max_iterations=int(opts.get("max_iterations", 12)),
                )
                best = result.best(opts.get("objective", "cost"))
                specs = best.ops
                rewrites_fired += [f"directive:{name}" for name, _ in best.applied]
            elif opts.get("method") == "fast_decompose":
                # reference FastDecomposer flow (optimizers/
                # fast_decomposer.py): directive candidates for ONE map
                # op, run on samples, selected by pairwise judging. The
                # target is `opts["target"]` or the step's first map op.
                from .fast_decomposer import fast_decompose

                target = opts.get("target") or next(
                    (s.config.get("name") for s in specs if s.type == "map"), None
                )
                # optimize runs PER STEP: a step that doesn't contain a
                # map op with the target name simply isn't decomposed —
                # raising would abort multi-step pipelines whose target
                # lives in a later step
                step_has_target = any(
                    s.config.get("name") == target and s.type == "map" for s in specs
                )
                if target is not None and sf is not None and step_has_target:
                    dec = fast_decompose(
                        sf, specs, target,
                        backend=backend, datasets=datasets, stats=stats,
                        sample_size=int(opts.get("sample_size", 5)),
                        agent_instantiation=bool(opts.get("agentic")),
                    )
                    if dec.winning_directive != "original":
                        idx = next(
                            i for i, s in enumerate(specs)
                            if s.config.get("name") == target
                        )
                        specs = specs[:idx] + dec.decomposed_ops + specs[idx + 1:]
                        rewrites_fired.append(
                            f"fast_decompose:{dec.winning_directive}"
                        )
            elif opts.get("method") == "reduce_plans":
                # ReduceOptimizer plan search (optimizers/reduce_optimizer.py
                # :1273-1370): fold prompts + batch sizes, sampled runs,
                # pairwise-judged winner. Target = opts["target"] or the
                # step's first reduce op; steps without it pass through.
                from .reduce_plan_search import reduce_plan_search

                target = opts.get("target") or next(
                    (s.config.get("name") for s in specs if s.type == "reduce"), None
                )
                step_has_target = any(
                    s.config.get("name") == target and s.type == "reduce"
                    for s in specs
                )
                if target is not None and sf is not None and step_has_target:
                    res = reduce_plan_search(
                        sf, specs, target,
                        backend=backend,
                        sample_groups=int(opts.get("sample_groups", 2)),
                        rows_per_group=int(opts.get("rows_per_group", 8)),
                        context_limit_tokens=int(
                            opts.get("context_limit_tokens", 128_000)
                        ),
                    )
                    if res.winning_plan != "original":
                        idx = next(
                            i for i, s in enumerate(specs)
                            if s.config.get("name") == target
                        )
                        specs = specs[:idx] + [OpSpec("reduce", res.config)] + specs[idx + 1:]
                        rewrites_fired.append(f"reduce_plans:{res.winning_plan}")
            elif opts.get("method") == "map_plans":
                # MapOptimizer plan search (optimizers/map_optimizer/
                # plan_generators.py :48-366, :541-574): the chunk-size
                # ladder + gleaning-round plans, sampled runs, pairwise-
                # judged winner. Target = opts["target"] or the step's
                # first map op; steps without it pass through.
                from .map_plan_search import map_plan_search

                target = opts.get("target") or next(
                    (s.config.get("name") for s in specs if s.type == "map"), None
                )
                step_has_target = any(
                    s.config.get("name") == target and s.type == "map"
                    for s in specs
                )
                if target is not None and sf is not None and step_has_target:
                    res = map_plan_search(
                        sf, specs, target,
                        backend=backend, datasets=datasets,
                        sample_size=int(opts.get("sample_size", 5)),
                        num_chunk_sizes=int(opts.get("num_chunk_sizes", 4)),
                        context_limit_tokens=int(
                            opts.get("context_limit_tokens", 128_000)
                        ),
                        validator_prompt=opts.get("validator_prompt"),
                    )
                    if res.winning_plan != "original":
                        specs = res.ops
                        rewrites_fired.append(f"map_plans:{res.winning_plan}")
            else:
                result = optimize_ops(specs, stats, backend=agent)
                best = result.best(opts.get("objective", "cost"))
                specs = best.ops
                rewrites_fired += [f"directive:{name}" for name, _ in best.applied]
        specs, fired = rewrite(specs)
        rewrites_fired += fired
        prev = None
        for spec in lower(specs):
            spec = OpSpec(spec["type"], {k: v for k, v in spec.items() if k != "type"})
            name = str(spec.config.get("name", ""))
            tracker.op_start(name, spec.type, step=step["name"])
            cached = checkpointer.advance(spec, sf) if checkpointer is not None else None
            if cached is not None:
                sf = cached
            else:
                sf = apply_op(sf, spec, datasets)
                if checkpointer is not None:
                    sf = checkpointer.store(sf)
            # one job: the next op reads a LogicalRDD leaf, and the row
            # count is observed on that same job
            o = Observation()
            df = sf.df.observe(o, F.count(F.lit(1)).alias("rows")).localCheckpoint(eager=True)
            rows = o.get["rows"]
            sf = replace(sf, df=df, _memo={"count": rows})
            tracker.op_done(name, out_count=rows)
            if emit is not None:
                emit(render_line(tracker.snapshot().get(name)))
            if prev is not None:
                unpersist(prev)
            prev = sf.df
        if prev is not None:
            step_outputs[step["name"]] = prev
        # step boundary: register output as a named dataset (containers.py:514)
        datasets[step["name"]] = sf
        sf.df.createOrReplaceTempView(step["name"])
        last, last_name = sf, step["name"]

    out = config["pipeline"].get("output")
    # empty path = "return the frame, write nothing" (the typed API's
    # PipelineOutput defaults to path="" like the reference's)
    if out and out.get("path") and last is not None:
        path = out["path"]
        if path.endswith(".json"):
            last.write_json(path)
        elif path.endswith(".csv"):
            last.write_csv(path)
        else:
            last.write_parquet(path)
    if last is None:
        raise ValueError("pipeline has no steps")
    tracker.pipeline_done()
    # a step output the next step continued is a link in one chain, like
    # an op's output inside a step: released, its view dropped. The other
    # step outputs stay readable through their views: the result until
    # last.collect() / release_caches(), the rest as long as their view
    # (Spark frees the blocks once a replaced view no longer references
    # them)
    for name, df in step_outputs.items():
        if name in continued and df is not last.df:
            unpersist(df)
            spark.catalog.dropTempView(name)
    if step_outputs.get(last_name) is last.df:
        object.__setattr__(last, "_caches", last._caches + (last.df,))
        object.__setattr__(last, "_view", last_name)
    object.__setattr__(last, "op_log", last.op_log + (("rewrites", {"fired": rewrites_fired}),))
    if validation_notes:
        object.__setattr__(last, "op_log", last.op_log + (("validation", tuple(validation_notes)),))
    return last
