"""docetl_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of ucbepic/docetl, re-expressed Spark-first.

Public surface:
- SemanticFrame: lazy pandas-like API over Spark DataFrames
- ModelBackend / FakeBackend / LiteLLMBackend: semantic-op model layer
- get_spark / load_tables: session + testdata helpers
"""

__version__ = "0.2.0"

from .agents import Agent, AgentTool, Tool, run_agent, tool
from .api import (
    ClusterOp,
    CodeFilterOp,
    CodeMapOp,
    CodeReduceOp,
    Dataset,
    EquijoinOp,
    ExtractOp,
    FilterOp,
    GatherOp,
    LinkResolveOp,
    MapOp,
    ParallelMapOp,
    ParsingTool,
    Pipeline,
    PipelineOutput,
    PipelineSpec,
    PipelineStep,
    RankOp,
    ReduceOp,
    ResolveOp,
    SampleOp,
    SplitOp,
    TopkOp,
    UnnestColumnsOp,
    UnnestOp,
    WebSearchOp,
)
from .backend import FakeBackend, LiteLLMBackend, ModelBackend
from .checkpoint import Checkpointer
from .evaluation import evaluate_candidates, identify_pareto_frontier, load_custom_evaluate_func, register_eval
from .frame import SemanticFrame
from .plans import run_pipeline, run_yaml
from .resilience import BackendMetrics, ResilientBackend, clear_backend_state
from .retrievers import BroadcastRetriever, RetrievalResult
from .session import get_spark, load_tables, widen_scan

__all__ = [
    "Agent",
    "AgentTool",
    "ClusterOp",
    "CodeFilterOp",
    "CodeMapOp",
    "CodeReduceOp",
    "Dataset",
    "EquijoinOp",
    "ExtractOp",
    "FilterOp",
    "GatherOp",
    "LinkResolveOp",
    "MapOp",
    "ParallelMapOp",
    "ParsingTool",
    "Pipeline",
    "PipelineOutput",
    "PipelineSpec",
    "PipelineStep",
    "RankOp",
    "ReduceOp",
    "ResolveOp",
    "SampleOp",
    "SplitOp",
    "TopkOp",
    "UnnestColumnsOp",
    "UnnestOp",
    "WebSearchOp",
    "BackendMetrics",
    "BroadcastRetriever",
    "Checkpointer",
    "FakeBackend",
    "LiteLLMBackend",
    "ModelBackend",
    "ResilientBackend",
    "RetrievalResult",
    "SemanticFrame",
    "get_spark",
    "widen_scan",
    "load_tables",
    "run_pipeline",
    "run_yaml",
    "Tool",
    "tool",
    "run_agent",
    "clear_backend_state",
    "register_eval",
    "load_custom_evaluate_func",
    "identify_pareto_frontier",
    "evaluate_candidates",
]
