"""Typed Pipeline object API — the third front-end beside YAML and the
Frame API.

Reference parity: ``docetl/api.py:38-355`` (the ``Pipeline`` class:
``from_dict``/``_to_dict``/``ops_by_name``/``get_step_for_op``/
``to_yaml``/``optimize``/``run``) and ``docetl/schemas.py`` +
``base_schemas.py`` (the pydantic op models, ``Dataset``,
``PipelineStep``, ``PipelineOutput``, ``ParsingTool``). The models here
are deliberately LIGHT: each declares its identity (``name``/``type``)
and core typed fields, allows extras, and defers deep config linting to
``plans.validate.validate_config`` — the same split the reference uses
(pydantic shape check up front, ``syntax_check`` on every run path).

Execution compiles to the exact dict config ``plans.compiler.
run_pipeline`` already runs, so the three surfaces (typed, YAML, Frame)
share one compiler, one validator, and one set of operators.
"""

from __future__ import annotations

from typing import Any, Callable, Union

from pydantic import BaseModel, ConfigDict

__all__ = [
    "Pipeline",
    "Dataset",
    "MapOp",
    "ResolveOp",
    "ReduceOp",
    "ParallelMapOp",
    "FilterOp",
    "EquijoinOp",
    "SplitOp",
    "GatherOp",
    "UnnestOp",
    "UnnestColumnsOp",
    "ClusterOp",
    "SampleOp",
    "TopkOp",
    "RankOp",
    "CodeMapOp",
    "CodeReduceOp",
    "CodeFilterOp",
    "ExtractOp",
    "LinkResolveOp",
    "WebSearchOp",
    "PipelineStep",
    "PipelineOutput",
    "PipelineSpec",
    "ParsingTool",
]


# --------------------------------------------------------------- base shapes


class ParsingTool(BaseModel):
    """A named parsing function carried as source code in the config
    (reference base_schemas.py ParsingTool)."""

    name: str
    function_code: str


class PipelineStep(BaseModel):
    """One pipeline step: a named input (dataset or previous step) plus
    an ordered list of operation references — a plain op name, or the
    reference's dict form ``{op_name: {left: ds, right: ds}}`` for
    binary ops like equijoin (base_schemas.py PipelineStep)."""

    name: str
    operations: list[Union[dict[str, Any], str]]
    input: str | None = None


class PipelineOutput(BaseModel):
    """Where the final step lands (base_schemas.py PipelineOutput).
    ``path`` picks the writer by extension: .json / .csv / parquet."""

    type: str = "file"
    path: str = ""
    intermediate_dir: str | None = None


class PipelineSpec(BaseModel):
    steps: list[PipelineStep]
    output: PipelineOutput


class Dataset(BaseModel):
    """An input binding. ``type='file'`` reads ``path`` (json/csv/
    parquet by extension or explicit ``format``); ``type='memory'``
    carries rows inline — in ``data``, or in ``path`` for reference
    ``from_list`` compatibility (their memory datasets stash the list in
    ``path``). ``epoch_nanos`` folds timestamp columns to epoch-ns
    BIGINT at scan (this engine's canonical time representation)."""

    model_config = ConfigDict(extra="allow")

    type: str = "file"
    path: Any = None
    data: list[dict[str, Any]] | None = None
    format: str | None = None
    source: str | None = None
    parsing: list[dict[str, Any]] | None = None
    epoch_nanos: list[str] | None = None


# ------------------------------------------------------------------ op models


class _Op(BaseModel):
    """Shared op-model base: identity + open config. Core per-op fields
    are declared on subclasses for IDE/typing ergonomics; everything
    else rides through ``extra='allow'`` and is validated by
    ``validate_config`` before any Spark job, mirroring the reference's
    pydantic-shape-plus-runtime-syntax-check split."""

    model_config = ConfigDict(extra="allow")

    name: str
    type: str

    def to_config(self) -> dict[str, Any]:
        return {
            k: v
            for k, v in self.model_dump(exclude_none=True).items()
        }


class MapOp(_Op):
    type: str = "map"
    prompt: str | None = None
    output: dict[str, Any] | None = None
    model: str | None = None
    drop_keys: list[str] | None = None


class ParallelMapOp(_Op):
    type: str = "parallel_map"
    prompts: list[dict[str, Any]] | None = None
    output: dict[str, Any] | None = None


class FilterOp(_Op):
    type: str = "filter"
    prompt: str | None = None
    output: dict[str, Any] | None = None
    model: str | None = None


class ReduceOp(_Op):
    type: str = "reduce"
    reduce_key: Any = None
    prompt: str | None = None
    output: dict[str, Any] | None = None
    fold_prompt: str | None = None
    fold_batch_size: int | None = None
    model: str | None = None


class ResolveOp(_Op):
    type: str = "resolve"
    comparison_prompt: str | None = None
    resolution_prompt: str | None = None
    id_col: str | None = None
    output: dict[str, Any] | None = None
    blocking_threshold: float | None = None
    blocking_keys: list[str] | None = None
    limit_comparisons: int | None = None


class EquijoinOp(_Op):
    type: str = "equijoin"
    comparison_prompt: str | None = None
    left_keys: list[str] | None = None
    right_keys: list[str] | None = None
    right: str | None = None
    blocking_conditions: list[str] | None = None


class SplitOp(_Op):
    type: str = "split"
    split_key: str | None = None
    method: str | None = None
    method_kwargs: dict[str, Any] | None = None


class GatherOp(_Op):
    type: str = "gather"
    content_key: str | None = None
    doc_id_key: str | None = None
    order_key: str | None = None
    peripheral_chunks: dict[str, Any] | None = None


class UnnestOp(_Op):
    type: str = "unnest"
    unnest_key: str | None = None
    recursive: bool | None = None
    keep_empty: bool | None = None


class UnnestColumnsOp(_Op):
    type: str = "unnest_columns"
    column: str | None = None


class ClusterOp(_Op):
    type: str = "cluster"
    id_col: str | None = None
    embedding_keys: list[str] | None = None
    summary_prompt: str | None = None


class SampleOp(_Op):
    type: str = "sample"
    method: str | None = None
    samples: Any = None


class TopkOp(_Op):
    type: str = "topk"
    method: str | None = None
    k: int | None = None
    query: str | None = None


class RankOp(_Op):
    type: str = "rank"
    method: str | None = None
    rank_col: str | None = None
    prompt: str | None = None


class CodeMapOp(_Op):
    type: str = "code_map"
    code: str | None = None
    output: dict[str, Any] | None = None
    drop_keys: list[str] | None = None


class CodeReduceOp(_Op):
    type: str = "code_reduce"
    reduce_key: Any = None
    code: str | None = None
    output: dict[str, Any] | None = None


class CodeFilterOp(_Op):
    type: str = "code_filter"
    code: str | None = None
    predicate: str | None = None


class ExtractOp(_Op):
    type: str = "extract"
    prompt: str | None = None
    document_keys: list[str] | None = None
    strategy: str | None = None


class LinkResolveOp(_Op):
    type: str = "link_resolve"
    id_key: str | None = None
    link_key: str | None = None
    comparison_prompt: str | None = None


class WebSearchOp(_Op):
    type: str = "web_search"
    query_col: str | None = None
    output_col: str | None = None


OpType = Union[
    MapOp, ResolveOp, ReduceOp, ParallelMapOp, FilterOp, EquijoinOp,
    SplitOp, GatherOp, UnnestOp, UnnestColumnsOp, ClusterOp, SampleOp,
    TopkOp, RankOp, CodeMapOp, CodeReduceOp, CodeFilterOp, ExtractOp,
    LinkResolveOp, WebSearchOp,
]


# ------------------------------------------------------------------ Pipeline


class Pipeline:
    """Typed pipeline object: datasets + operations + steps + output,
    runnable on Spark through the shared config compiler.

    Reference ``docetl/api.py:38`` keeps this class as the typed
    front-end over its DSLRunner; here it compiles to the dict config
    ``plans.compiler.run_pipeline`` executes, so YAML, typed, and Frame
    pipelines are one engine with three skins.
    """

    _OP_TYPE_REGISTRY: dict[str, type[_Op]] = {
        "map": MapOp,
        "resolve": ResolveOp,
        "reduce": ReduceOp,
        "parallel_map": ParallelMapOp,
        "filter": FilterOp,
        "equijoin": EquijoinOp,
        "split": SplitOp,
        "gather": GatherOp,
        "unnest": UnnestOp,
        "unnest_columns": UnnestColumnsOp,
        "cluster": ClusterOp,
        "sample": SampleOp,
        "topk": TopkOp,
        "rank": RankOp,
        "code_map": CodeMapOp,
        "code_reduce": CodeReduceOp,
        "code_filter": CodeFilterOp,
        "extract": ExtractOp,
        "link_resolve": LinkResolveOp,
        "web_search": WebSearchOp,
    }

    def __init__(
        self,
        name: str,
        datasets: dict[str, Dataset],
        operations: list[_Op],
        steps: list[PipelineStep],
        output: PipelineOutput | None = None,
        parsing_tools: list[ParsingTool | Callable] | None = None,
        default_model: str | None = None,
        rate_limits: dict[str, int] | None = None,
        optimizer_config: dict[str, Any] | None = None,
        **kwargs: Any,
    ):
        import inspect

        self.name = name
        self.datasets = datasets
        self.operations = operations
        self.steps = steps
        self.output = output or PipelineOutput()
        self.parsing_tools = [
            tool
            if isinstance(tool, ParsingTool)
            else ParsingTool(name=tool.__name__, function_code=inspect.getsource(tool))
            for tool in (parsing_tools or [])
        ]
        self.default_model = default_model
        self.rate_limits = rate_limits
        self.optimizer_config = optimizer_config or {}
        self.other_config = kwargs

    # ----------------------------------------------------------- accessors

    @property
    def ops_by_name(self) -> dict[str, _Op]:
        return {op.name: op for op in self.operations}

    def get_step_for_op(self, op_name: str) -> PipelineStep:
        for step in self.steps:
            for entry in step.operations:
                ref = entry if isinstance(entry, str) else next(iter(entry), None)
                if ref == op_name:
                    return step
        raise KeyError(f"Operation {op_name!r} not found in any step")

    # -------------------------------------------------------- dict round-trip

    @classmethod
    def from_dict(cls, config: dict[str, Any], name: str | None = None) -> "Pipeline":
        datasets = {
            ds_name: Dataset(**ds_cfg)
            for ds_name, ds_cfg in config.get("datasets", {}).items()
        }

        operations: list[_Op] = []
        for op_cfg in config.get("operations", []):
            op_type = op_cfg.get("type")
            schema_cls = cls._OP_TYPE_REGISTRY.get(op_type)
            filtered = {k: v for k, v in op_cfg.items() if v is not None}
            if schema_cls is not None:
                try:
                    operations.append(schema_cls(**filtered))
                except Exception:
                    # keep the right op TYPE even when validation fails —
                    # validate_config reports the config error loudly on
                    # every run path, but typed inspection (ops_by_name)
                    # must not misreport the type (reference api.py:126-134)
                    operations.append(schema_cls.model_construct(**filtered))
            else:
                # unknown / beyond-registry op types (the analytics
                # family): carry them as generic MapOp-shaped models so
                # round-trips preserve them verbatim
                operations.append(_Op.model_construct(**filtered))

        steps = [
            PipelineStep(**{k: v for k, v in s.items() if v is not None})
            for s in config.get("pipeline", {}).get("steps", [])
        ]

        # copy before defaulting — the caller's config must not mutate
        output_cfg = {
            "type": "file",
            "path": "",
            **(config.get("pipeline", {}).get("output") or {}),
        }
        output = PipelineOutput(**output_cfg)

        parsing_tools = [
            t if isinstance(t, ParsingTool) else ParsingTool(**t)
            for t in (config.get("parsing_tools") or [])
        ]

        known = {
            "datasets", "operations", "pipeline", "default_model",
            "parsing_tools", "rate_limits", "optimizer_config",
        }
        other = {k: v for k, v in config.items() if k not in known}

        return cls(
            name=name or "pipeline",
            datasets=datasets,
            operations=operations,
            steps=steps,
            output=output,
            parsing_tools=parsing_tools,
            default_model=config.get("default_model"),
            rate_limits=config.get("rate_limits"),
            optimizer_config=config.get("optimizer_config", {}),
            **other,
        )

    def _to_dict(self) -> dict[str, Any]:
        d: dict[str, Any] = {
            "datasets": {
                name: ds.model_dump(exclude_none=True)
                for name, ds in self.datasets.items()
            },
            "operations": [
                op.model_dump(exclude_none=True, exclude_unset=True)
                | {"name": op.name, "type": op.type}
                for op in self.operations
            ],
            "pipeline": {
                "steps": [
                    {k: v for k, v in step.model_dump().items() if v is not None}
                    for step in self.steps
                ],
                "output": self.output.model_dump(),
            },
        }
        if self.default_model:
            d["default_model"] = self.default_model
        if self.parsing_tools:
            d["parsing_tools"] = [t.model_dump() for t in self.parsing_tools]
        if self.optimizer_config:
            d["optimizer_config"] = self.optimizer_config
        if self.rate_limits:
            d["rate_limits"] = self.rate_limits
        d.update(self.other_config)
        return d

    to_dict = _to_dict

    # --------------------------------------------------------- yaml round-trip

    def to_yaml(self, path: str) -> None:
        import yaml

        with open(path, "w") as f:
            yaml.safe_dump(self._to_dict(), f, sort_keys=False)

    @classmethod
    def from_yaml(cls, path: str, name: str | None = None) -> "Pipeline":
        import yaml

        with open(path) as f:
            config = yaml.safe_load(f)
        return cls.from_dict(config, name=name)

    # -------------------------------------------------------------- execution

    def _runnable_config(self) -> dict[str, Any]:
        """The typed objects, lowered to the dict config run_pipeline
        executes. Reference dict-form step operations
        (``{op: {left: ds, right: ds}}``) normalize here: ``left``
        becomes the step input, ``right`` folds into the binary op's
        config — this engine binds the right side on the op, not the
        step."""
        cfg = self._to_dict()
        ops_by_name = {o["name"]: o for o in cfg["operations"]}
        for step in cfg["pipeline"]["steps"]:
            norm: list[str] = []
            for entry in step.get("operations", []):
                if isinstance(entry, str):
                    norm.append(entry)
                    continue
                op_name, params = next(iter(entry.items()))
                params = params or {}
                if "left" in params:
                    step.setdefault("input", params["left"])
                if "right" in params:
                    ops_by_name[op_name]["right"] = params["right"]
                for k, v in params.items():
                    if k not in ("left", "right"):
                        ops_by_name[op_name][k] = v
                norm.append(op_name)
            step["operations"] = norm
        # empty output path means "return the frame, write nothing"
        if not cfg["pipeline"]["output"].get("path"):
            cfg["pipeline"].pop("output")
        # memory datasets: reference from_list stores the rows in `path`
        for name, ds in cfg["datasets"].items():
            if ds.get("type") == "memory" and "data" not in ds:
                rows = ds.pop("path", None)
                if rows is None:
                    raise ValueError(
                        f"memory dataset {name!r} has neither `data` nor `path` rows"
                    )
                ds["data"] = rows
        if self.default_model:
            from .plans.ir import OpSpec

            for op in cfg["operations"]:
                if OpSpec(op["type"]).takes_model:
                    op.setdefault("model", self.default_model)
        return cfg

    def run(self, spark=None, *, backend=None, checkpointer=None):
        """Execute on Spark; returns the final step's SemanticFrame
        (reference run() returns the runner's result — here the frame IS
        the result). The run is eager: every op's output is computed
        here, and the result stays persisted until the frame's
        ``.collect()`` or ``.release_caches()``."""
        from .plans.compiler import run_pipeline
        from .session import get_spark

        spark = spark or get_spark(f"pipeline-{self.name}")
        return run_pipeline(
            spark, self._runnable_config(), backend=backend, checkpointer=checkpointer
        )

    def run_with_stats(self, spark=None, *, backend=None) -> dict[str, Any]:
        """Run and report measured backend usage (reference
        run_with_stats returns {cost, token_usage}; this engine counts
        calls through BackendMetrics accumulators)."""
        from .resilience import BackendMetrics, ResilientBackend
        from .session import get_spark

        spark = spark or get_spark(f"pipeline-{self.name}")
        metrics = BackendMetrics(spark.sparkContext)
        counted = (
            ResilientBackend(backend, namespace=f"pipeline:{self.name}", metrics=metrics)
            if backend is not None
            else None
        )
        frame = self.run(spark, backend=counted or backend)
        rows = frame.collect()
        snap = metrics.snapshot()
        return {"rows": rows, "calls": int(snap.get("calls", 0)), "frame": frame}

    def syntax_check(self) -> list:
        """Lint the compiled config without running anything — the
        reference runs the same check on every run path."""
        from .plans.validate import validate_config

        return validate_config(self._runnable_config())

    # ------------------------------------------------------------- optimize

    def optimize(
        self,
        method: str = "directive",
        *,
        objective: str = "cost",
        backend=None,
        stats: dict[str, Any] | None = None,
        **kwargs: Any,
    ) -> "Pipeline":
        """Directive-based plan optimization over each step's ops;
        returns a NEW Pipeline with the rewritten operation list
        (reference optimize() reruns its agentic optimizer and returns
        an updated Pipeline; this engine's equivalent is the
        deterministic directive search — beam by default, MCTS with
        ``method='moar'``)."""
        from .plans.directives import PlanStats, moar_search, optimize_ops
        from .plans.ir import lift, lower

        pstats = PlanStats(**(stats or {}))
        cfg = self._runnable_config()
        ops_by_name = {o["name"]: o for o in cfg["operations"]}

        new_operations: list[dict[str, Any]] = []
        new_steps: list[PipelineStep] = []
        for step in cfg["pipeline"]["steps"]:
            step_cfgs = [ops_by_name[n] for n in step.get("operations", [])]
            specs = lift(step_cfgs)
            if method == "moar":
                result = moar_search(specs, pstats, backend=backend, **kwargs)
            else:
                result = optimize_ops(specs, pstats, backend=backend, **kwargs)
            best = result.best(objective)
            lowered = lower(best.ops)
            for i, op_cfg in enumerate(lowered):
                op_cfg.setdefault("name", f"{step['name']}_op{i}")
            new_operations.extend(lowered)
            new_steps.append(
                PipelineStep(
                    name=step["name"],
                    input=step.get("input"),
                    operations=[o["name"] for o in lowered],
                )
            )

        out = Pipeline.from_dict(
            {
                "datasets": cfg["datasets"],
                "operations": new_operations,
                "pipeline": {
                    "steps": [s.model_dump() for s in new_steps],
                    "output": self.output.model_dump(),
                },
                "default_model": self.default_model,
                "optimizer_config": self.optimizer_config,
            },
            name=self.name,
        )
        # the optimized pipeline must stay fully equivalent outside the
        # rewritten ops — parsing tools, rate limits, and unknown config
        # ride through unchanged (reference optimize() returns a complete
        # updated Pipeline)
        out.parsing_tools = list(self.parsing_tools)
        out.rate_limits = self.rate_limits
        out.other_config = dict(self.other_config)
        return out
