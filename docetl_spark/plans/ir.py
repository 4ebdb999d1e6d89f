"""Logical plan IR: typed op specs + optimizer-facing traits.

Reference semantics: /root/reference/docetl/plan/ir.py:28-209 (PlanNode
IR), /root/reference/docetl/operations/base.py:17-37,139-188 (cardinality
lattice + traits). Config dicts are lifted into ``OpSpec`` nodes whose
traits drive the pre-compilation rewrite rules in rewrite.py; the result
is lowered back to configs and compiled onto DataFrames (compiler.py) —
Catalyst then handles everything expressible natively.

``OP_TYPES`` is the one catalog of YAML op types. The compiler, the
validator, the rewrite rules, the optimizer directives and the typed
``Pipeline`` all read it; a type missing from it runs only through the
plugin registry.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


ONE_TO_ONE = "one_to_one"
SELECTION = "selection"
MANY_TO_ONE = "many_to_one"
ONE_TO_MANY = "one_to_many"
MANY_TO_MANY = "many_to_many"


@dataclass(frozen=True)
class OpType:
    """One YAML op type: its traits, plus only what differs from "each
    config key is the verb's parameter name" (``output: {schema: S}`` is
    every type's ``output_schema``). compiler.apply_op reads this to call
    ``getattr(sf, verb)(**config)``; validate.py derives the required
    keys from the verb's signature."""

    cardinality: str = MANY_TO_MANY
    is_llm: bool = False  # calls a model: the rewrite rules' cost motive
    is_row_local: bool = False
    preserves_order: bool = False
    verb: str = ""  # SemanticFrame method, when it is not the type's name
    renames: tuple[tuple[str, str], ...] = ()  # (YAML key, verb parameter)
    datasets: tuple[str, ...] = ()  # keys whose value names a dataset
    sql_aggs: tuple[str, ...] = ()  # {name: "sql expression"} mappings
    tuples: tuple[str, ...] = ()  # lists (or a mapping's lists) -> tuples
    takes_name: bool = False  # the op's `name` reaches the verb
    takes_model: bool = False  # per-op model / timeout / litellm kwargs


_ROW = {"is_row_local": True, "preserves_order": True}
_CODE = (("code", "fn"),)
# an op type resolved through the plugin registry: opaque, so assumed to
# call a model
_PLUGIN = OpType(is_llm=True)

OP_TYPES: dict[str, OpType] = {
    "map": OpType(ONE_TO_ONE, is_llm=True, **_ROW, takes_model=True),
    "parallel_map": OpType(ONE_TO_ONE, is_llm=True, **_ROW),
    "filter": OpType(SELECTION, is_llm=True, **_ROW, takes_model=True),
    "reduce": OpType(MANY_TO_ONE, is_llm=True, takes_name=True, takes_model=True),
    "code_map": OpType(ONE_TO_ONE, **_ROW, renames=_CODE),
    "code_filter": OpType(SELECTION, **_ROW, renames=(("code", "predicate"),)),
    "code_reduce": OpType(MANY_TO_ONE, renames=_CODE, takes_name=True),
    "resolve": OpType(is_llm=True),
    "equijoin": OpType(is_llm=True, datasets=("right",), renames=(("right", "other"),)),
    "split": OpType(ONE_TO_MANY, **_ROW, takes_name=True),
    "gather": OpType(ONE_TO_ONE),
    "unnest": OpType(ONE_TO_MANY, **_ROW),
    "unnest_columns": OpType(ONE_TO_ONE, **_ROW),
    "add_uuid": OpType(ONE_TO_ONE, **_ROW),
    "sample": OpType(SELECTION),
    "topk": OpType(SELECTION),
    "rank": OpType(ONE_TO_ONE, is_llm=True),
    "cluster": OpType(ONE_TO_ONE, is_llm=True),
    "extract": OpType(ONE_TO_ONE, is_llm=True, **_ROW),
    "link_resolve": OpType(ONE_TO_ONE, is_llm=True, preserves_order=True),
    "embed": OpType(is_llm=True),
    "retrieve_context": OpType(is_llm=True, datasets=("corpus",)),
    "web_search": OpType(ONE_TO_ONE, **_ROW),
    "web_fetch": OpType(ONE_TO_ONE, **_ROW),
    "data_diff": OpType(verb="diff_against", datasets=("right",), renames=(("right", "new"),)),
    **{t: OpType(datasets=(k,)) for t, k in (
        ("contamination", "benchmark"), ("decontaminate", "benchmark"),
        ("dedup_incremental", "store"), ("dsir_select", "target"),
        ("lm_score", "model_corpus"), ("asof_join", "right"),
        ("interval_join", "right"), ("salted_join", "right"),
        ("range_join", "intervals"), ("fk_violations", "parent"),
        ("apply_cdc", "changes"), ("pair_metrics", "truth"),
        ("label_propagation", "seeds"),
    )},
    "merge_rollup": OpType(datasets=("delta",), tuples=("aggs",)),
    "rollup_state": OpType(tuples=("aggs",)),
    **{t: OpType(sql_aggs=("aggs",)) for t in ("time_rollup", "hopping_rollup", "gap_fill", "time_profile")},
    "rolling_features": OpType(sql_aggs=("value_aggs",)),
    "pareto_coverage": OpType(tuples=("thresholds_bp",)),
    "active_users": OpType(tuples=("windows",)),
    "active_users_approx": OpType(tuples=("windows",)),
    # every key is the verb's parameter, and no model is called
    **dict.fromkeys("""
        ab_test_summary acf_table anova_f approx_quantiles assign_splits
        attribute_conversions auc audience_overlap autocorr_lag basket_pairs
        benford_profile bootstrap_ci bursts cap_per_group changelog_to_scd2
        changepoint_cusum changepoint_mean_shift check_constraints chi_square
        cohen_kappa cohort_retention cohort_values collapse_rare concentration
        cooccurrence_stats correlation_r2 cramers_v2 curriculum_order debounce
        decade_histogram dedup_passages dedup_semantic dedup_substrings dist_drift
        diversity dup_cluster_sizes edit_distance_pairs ewma ewma_bucketed
        exact_quantiles flag_outliers flag_outliers_mad funnel gini graph_components
        group_concat heavy_hitters histogram impurity interval_union
        jaccard_neighbors json_extract kaplan_meier kendall_tau keywords
        kruskal_wallis ks_test lift_table limit mann_kendall melt mode mutual_info
        near_dup_grams near_dup_minhash near_dup_simhash ngram_novelty ngram_stats
        null_runs pack_documents pack_sequences pagerank percentile_normalize
        period_over_period profile_columns psi quantile_buckets readability
        rfm_segments running_totals runs sample_mixture sample_pps
        sample_temperature sample_unimax seasonal_outliers select_top_frac
        sequence_ngrams session_entry_exit session_paths sessionize shard_manifest
        skew_profile skyline sma_crossover snapshot_latest spearman state_durations
        streaks target_encode_loo term_stats theil_sen throttle time_weighted_avg
        transition_probs transitions trend_fit triangle_count trimmed_mean
        vocab_growth vocab_profile weighted_quantiles winsorize woe_table
        zipf_profile
    """.split(), OpType()),
}

# sample method=first preserves order and is a positional head (limit-like)
_JINJA_FIELD = re.compile(r"input1?\.([A-Za-z_][A-Za-z0-9_]*)|input2\.([A-Za-z_][A-Za-z0-9_]*)")


@dataclass
class OpSpec:
    """One lifted operation: ``type`` + raw ``config`` + derived traits."""

    type: str
    config: dict = field(default_factory=dict)

    # ------------------------------------------------------------ traits
    @property
    def op_type(self) -> OpType:
        return OP_TYPES.get(self.type, _PLUGIN)

    @property
    def cardinality(self) -> str:
        return self.op_type.cardinality

    @property
    def is_llm(self) -> bool:
        return self.op_type.is_llm

    @property
    def is_row_local(self) -> bool:
        return self.op_type.is_row_local

    @property
    def preserves_order(self) -> bool:
        return self.op_type.preserves_order

    @property
    def takes_model(self) -> bool:
        return self.op_type.takes_model

    # ------------------------------------------------- field read/write
    def fields_written(self) -> set[str] | None:
        """Declared output keys; None = unknown (fail closed)."""
        schema = self.config.get("output", {}).get("schema") or self.config.get("output_schema")
        written = set(schema) if schema else set()
        t = self.type
        if t in ("map", "parallel_map", "code_map"):
            return written if schema else None
        if t in ("filter", "code_filter", "sample", "topk"):
            return set()  # filter's decision key is popped from survivors
        if t == "split":
            name = self.config.get("name", "split")
            key = self.config.get("split_key", "")
            return {f"{key}_chunk", f"{name}_id", f"{name}_chunk_num"}
        if t == "add_uuid":
            return {self.config.get("id_key", "uuid_id")}
        if t == "gather":
            return {f"{self.config.get('content_key', '')}_rendered"}
        if t == "rank":
            return {self.config.get("rank_col", "_rank")}
        if t == "extract":
            suffix = self.config.get("suffix", "_extracted")
            return {f"{k}{suffix}" for k in self.config.get("document_keys", [])}
        if t == "unnest":
            return {self.config.get("unnest_key", "")}
        return None

    def fields_read(self) -> set[str] | None:
        """Fields the op's predicate/prompt reads; None = unknown."""
        t = self.type
        if t in ("map", "parallel_map", "filter", "reduce", "extract"):
            prompts = []
            if "prompt" in self.config:
                prompts.append(self.config["prompt"])
            for p in self.config.get("prompts", []):
                prompts.append(p.get("prompt", ""))
            reads = set()
            for p in prompts:
                for m in _JINJA_FIELD.finditer(p or ""):
                    reads.add(m.group(1) or m.group(2))
            return reads or None
        if t == "code_filter":
            pred = self.config.get("predicate")
            if isinstance(pred, str):
                # SQL expression: conservative token scan for identifiers
                return {w for w in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", pred)}
            return None  # python callable: fail closed (code_operations.py:14-146)
        if t == "sample":
            # positional, but order_by columns ARE read: a first-N over an
            # ordering must not hop below the op that writes the ordering
            # column (limit_pushdown checks this intersection).
            order_by = self.config.get("order_by") or []
            reads = set()
            for o in order_by:
                if isinstance(o, str):
                    reads.add(o.split()[0])
                elif isinstance(o, (list, tuple)) and o:
                    reads.add(str(o[0]))
                else:
                    return None  # unparseable ordering spec: fail closed
            return reads
        return None


def lift(op_configs: list[dict]) -> list[OpSpec]:
    """Config dicts -> OpSpec list (plan/lift.py analogue)."""
    return [OpSpec(c["type"], {k: v for k, v in c.items() if k != "type"}) for c in op_configs]


def lower(specs: list[OpSpec]) -> list[dict]:
    """OpSpec list -> config dicts (plan/lower.py analogue)."""
    return [{"type": s.type, **s.config} for s in specs]
