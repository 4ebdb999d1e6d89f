"""Compile lifted op configs onto SemanticFrame pipelines.

Reference lifecycle: /root/reference/docetl/runner.py:187-224 (config ->
plan -> rewrite -> lower), containers.py:549-604 (physical DAG). Here
the "physical DAG" is the DataFrame lineage itself: each step compiles
scan -> ops, each op's output persisted and counted before the next op
runs (and stored as a checkpoint when one is configured), and step
outputs are registered as temp views for later steps (containers.py:514).

Code ops in config form carry Python source strings which are exec'd in
an isolated namespace (the reference execs user parser/code-op source
from config too, dataset.py:442-453, code_operations.py) — this is a
trusted-config execution model, same as the reference.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..backend import FakeBackend, ModelBackend
from ..frame import SemanticFrame
from ..progress import ProgressTracker, active_tracker, render_line
from .ir import OpSpec, lift, lower
from .rewrite import rewrite


def _expr_aggs(aggs: dict) -> dict:
    """YAML aggregate encoding -> Column dict: values are SQL expression
    strings (``{"n": "count(1)", "cents": "sum(_cents)"}``)."""
    from pyspark.sql import functions as F

    if not isinstance(aggs, dict) or not all(isinstance(v, str) for v in aggs.values()):
        raise ValueError(
            "YAML aggs must be a {name: 'sql expression'} mapping, got "
            f"{aggs!r}"
        )
    return {name: F.expr(expr) for name, expr in aggs.items()}


def apply_op(sf: SemanticFrame, spec: OpSpec, datasets: dict[str, SemanticFrame]) -> SemanticFrame:
    t, c = spec.type, dict(spec.config)
    c.pop("name", None)
    # planner-internal markers (directives.py flags like _keep_fraction,
    # _chained, _shrinks_tokens) never reach the operators
    for k in [k for k in c if k.startswith("_")]:
        c.pop(k)
    # sample-at-op shorthand: any op config may carry `sample: N`, which
    # truncates its input (containers.py:454-455)
    n_sample = c.pop("sample", None)
    if n_sample:
        sf = sf.limit(int(n_sample))
    if t == "limit":
        return sf.limit(int(c["n"]))
    # per-op backend overrides (reference per-op configs; also how the
    # change_model directives take effect at execution time)
    be_opts = {"model": c.get("model"), "timeout": c.get("timeout"),
               "litellm_completion_kwargs": c.get("litellm_completion_kwargs")}
    if t == "map" and c.get("max_retries_per_timeout") is not None:
        be_opts["max_retries_per_timeout"] = c["max_retries_per_timeout"]
    if t == "map":
        return sf.map(
            c["prompt"], c["output"]["schema"], drop_keys=c.get("drop_keys"),
            gleaning=c.get("gleaning"), validate=c.get("validate"),
            num_retries_on_validate_failure=c.get("num_retries_on_validate_failure", 0),
            batch_prompt=c.get("batch_prompt"),
            max_batch_size=c.get("max_batch_size", 16),
            calibrate=c.get("calibrate", False),
            skip_on_error=c.get("skip_on_error", False),
            error_col=c.get("error_col"),
            pdf_url_key=c.get("pdf_url_key"),
            # precomputed-context RAG (retrieve_context step upstream):
            # the verb accepted this all along; the YAML front dropped it
            retrieved_context_col=c.get("retrieved_context_col"),
            **be_opts,
        )
    if t == "parallel_map":
        return sf.parallel_map(c["prompts"], c["output"]["schema"], drop_keys=c.get("drop_keys"))
    if t == "filter":
        return sf.filter(c["prompt"], c["output"]["schema"], cascade=c.get("cascade"), **be_opts)
    if t == "reduce":
        return sf.reduce(c["reduce_key"], c["prompt"], c["output"]["schema"],
                         name=spec.config.get("name", "reduce"),
                         sort_within_group=c.get("sort_within_group"),
                         value_sampling=c.get("value_sampling"),
                         fold_prompt=c.get("fold_prompt"),
                         fold_batch_size=c.get("fold_batch_size"),
                         merge_prompt=c.get("merge_prompt"),
                         merge_batch_size=c.get("merge_batch_size"),
                         associative=c.get("associative", True),
                         num_parallel_folds=c.get("num_parallel_folds", 4),
                         distribute_folds=c.get("distribute_folds", False),
                         persist_intermediates=c.get("persist_intermediates", False),
                         pass_through=c.get("pass_through", False),
                         lineage_keys=c.get("lineage_keys"),
                         limit=c.get("limit"), **be_opts)
    if t == "code_map":
        # pass the SOURCE through: the frame logs it, keeping the replayed
        # chain YAML-exportable (round-trip)
        return sf.code_map(c["code"], c["output"]["schema"], drop_keys=c.get("drop_keys"))
    if t == "code_filter":
        return sf.code_filter(c.get("predicate") or c["code"], limit=c.get("limit"))
    if t == "code_reduce":
        return sf.code_reduce(c["reduce_key"], c["code"], c["output"]["schema"],
                              name=spec.config.get("name", "code_reduce"))
    if t == "split":
        return sf.split(c["split_key"], c["method"], c.get("method_kwargs", {}),
                        name=spec.config.get("name", "split"), doc_id=c.get("doc_id"))
    if t == "gather":
        return sf.gather(c["content_key"], c["doc_id_key"], c["order_key"],
                         peripheral_chunks=c.get("peripheral_chunks", {}))
    if t == "unnest":
        return sf.unnest(c["unnest_key"], keep_empty=c.get("keep_empty", False),
                         expand_fields=c.get("expand_fields"),
                         recursive=c.get("recursive", False), depth=c.get("depth"))
    if t == "unnest_columns":
        return sf.unnest_columns(c["column"])
    if t == "add_uuid":
        return sf.add_uuid(c.get("id_key", "uuid_id"),
                           deterministic_from=c.get("deterministic_from"))
    if t == "sample":
        method = c.pop("method")
        samples = c.pop("samples", None)
        return sf.sample(method, samples, **c)
    if t == "topk":
        return sf.topk(c.pop("method"), c.pop("k"), **c)
    if t == "rank":
        return sf.rank(**c)
    if t == "extract":
        return sf.extract(c.pop("prompt"), c.pop("document_keys"), **c)
    if t == "resolve":
        return sf.resolve(id_col=c.pop("id_col"), comparison_prompt=c.pop("comparison_prompt"),
                          output_schema=c.pop("output", {}).get("schema") or c.pop("output_schema"), **c)
    if t == "cluster":
        return sf.cluster(id_col=c.pop("id_col"), embedding_keys=c.pop("embedding_keys"), **c)
    if t == "link_resolve":
        return sf.link_resolve(id_key=c.pop("id_key"), link_key=c.pop("link_key"), **c)
    if t == "equijoin":
        right = datasets[c.pop("right")]
        return sf.equijoin(right, comparison_prompt=c.pop("comparison_prompt"),
                           left_keys=c.pop("left_keys"), right_keys=c.pop("right_keys"), **c)
    # training-pipeline ops (beyond-reference surface, COVERAGE.md)
    if t == "pack_sequences":
        return sf.pack_sequences(budget=c.pop("budget"), **c)
    if t == "pack_documents":
        return sf.pack_documents(budget=c.pop("budget"), **c)
    if t == "sample_temperature":
        return sf.sample_temperature(c.pop("group_col"), temperature=c.pop("temperature"), **c)
    if t == "sample_mixture":
        return sf.sample_mixture(c.pop("group_col"), c.pop("target_weights"), **c)
    if t == "sample_unimax":
        return sf.sample_unimax(c.pop("group_col"), budget=c.pop("budget"), **c)
    if t == "select_top_frac":
        return sf.select_top_frac(c.pop("score_col"), c.pop("frac"), **c)
    if t == "cap_per_group":
        return sf.cap_per_group(c.pop("group_cols"), c.pop("n"), order=c.pop("order"), **c)
    if t == "near_dup_minhash":
        return sf.near_dup_minhash(c.pop("id_col"), c.pop("text_col"), **c)
    if t == "near_dup_simhash":
        return sf.near_dup_simhash(c.pop("id_col"), c.pop("text_col"), **c)
    if t == "retrieve_context":
        corpus = datasets[c.pop("corpus")]
        return sf.retrieve_context(corpus, text_keys=c.pop("text_keys"), **c)
    if t == "contamination":
        bench = datasets[c.pop("benchmark")]
        return sf.contamination(bench, **c)
    if t == "decontaminate":
        bench = datasets[c.pop("benchmark")]
        return sf.decontaminate(bench, **c)
    if t == "embed":
        return sf.embed(c.pop("keys"), **c)
    if t == "dedup_semantic":
        return sf.dedup_semantic(c.pop("id_col"), **c)
    if t == "dedup_passages":
        return sf.dedup_passages(c.pop("text_col"), id_col=c.pop("id_col"), **c)
    if t == "dedup_substrings":
        return sf.dedup_substrings(c.pop("text_col"), id_col=c.pop("id_col"), **c)
    if t == "near_dup_grams":
        return sf.near_dup_grams(c.pop("id_col"), c.pop("text_col"), **c)
    if t == "dedup_incremental":
        store = datasets[c.pop("store")]
        return sf.dedup_incremental(store, c.pop("text_col"), id_col=c.pop("id_col"), **c)
    if t == "dsir_select":
        target = datasets[c.pop("target")]
        return sf.dsir_select(target, c.pop("text_col"), id_col=c.pop("id_col"), k=c.pop("k"), **c)
    if t == "term_stats":
        return sf.term_stats(c.pop("text_col"), id_col=c.pop("id_col"), **c)
    if t == "shard_manifest":
        return sf.shard_manifest(id_col=c.pop("id_col"), **c)
    if t == "lm_score":
        if "model_corpus" in c:
            c["model_corpus"] = datasets[c.pop("model_corpus")]
        return sf.lm_score(text_col=c.pop("text_col"), id_col=c.pop("id_col"), **c)
    if t == "assign_splits":
        return sf.assign_splits(id_cols=c.pop("id_cols"), **c)
    # time-series / analytics ops (beyond-reference surface, COVERAGE.md).
    # YAML carries aggregates as {name: "sql expression"} strings,
    # compiled with F.expr — the one encoding a pipeline file can hold
    # (the SemanticFrame verbs take Column objects directly).
    if t == "time_rollup":
        return sf.time_rollup(c.pop("ts_col"), _expr_aggs(c.pop("aggs")), **c)
    if t == "hopping_rollup":
        return sf.hopping_rollup(
            _expr_aggs(c.pop("aggs")), ts_col=c.pop("ts_col"),
            every_ns=c.pop("every_ns"), size_ns=c.pop("size_ns"), **c)
    if t == "gap_fill":
        return sf.gap_fill(
            c.pop("ts_col"), keys=c.pop("keys"),
            bucket_width=c.pop("bucket_width"),
            aggs=_expr_aggs(c.pop("aggs")), **c)
    if t == "time_weighted_avg":
        return sf.time_weighted_avg(
            c.pop("ts_col"), c.pop("value_col"), keys=c.pop("keys"), **c)
    if t == "cohort_retention":
        return sf.cohort_retention(
            c.pop("ts_col"), c.pop("user_col"), period=c.pop("period"), **c)
    if t == "funnel":
        return sf.funnel(c.pop("steps"), **c)
    if t == "skew_profile":
        return sf.skew_profile(c.pop("keys"), **c)
    if t == "exact_quantiles":
        return sf.exact_quantiles(c.pop("value_col"), c.pop("ps"), **c)
    if t == "approx_quantiles":
        return sf.approx_quantiles(c.pop("value_col"), c.pop("ps"), **c)
    if t == "cooccurrence_stats":
        return sf.cooccurrence_stats(c.pop("text_col"), id_col=c.pop("id_col"), **c)
    if t == "sessionize":
        return sf.sessionize(keys=c.pop("keys"), ts_col=c.pop("ts_col"),
                             gap=c.pop("gap"), **c)
    if t == "rolling_features":
        if "value_aggs" in c:
            c["value_aggs"] = _expr_aggs(c.pop("value_aggs"))
        return sf.rolling_features(c.pop("ts_col"), keys=c.pop("keys"), **c)
    if t == "asof_join":
        right = datasets[c.pop("right")]
        return sf.asof_join(right, **c)
    if t == "range_join":
        intervals = datasets[c.pop("intervals")]
        return sf.range_join(intervals, **c)
    if t == "snapshot_latest":
        return sf.snapshot_latest(keys=c.pop("keys"), ts_col=c.pop("ts_col"), **c)
    if t == "interval_join":
        right = datasets[c.pop("right")]
        return sf.interval_join(
            right, on=c.pop("on"), left_start=c.pop("left_start"),
            left_end=c.pop("left_end"), right_start=c.pop("right_start"),
            right_end=c.pop("right_end"), bin_width=c.pop("bin_width"), **c)
    if t == "transitions":
        return sf.transitions(keys=c.pop("keys"), ts_col=c.pop("ts_col"),
                              state_col=c.pop("state_col"), **c)
    if t == "quantile_buckets":
        return sf.quantile_buckets(c.pop("value_col"), c.pop("n"), **c)
    if t == "salted_join":
        right = datasets[c.pop("right")]
        return sf.salted_join(right, c.pop("on"), salt=c.pop("salt"), **c)
    if t == "readability":
        return sf.readability(c.pop("text_col"), **c)
    if t == "ngram_stats":
        return sf.ngram_stats(c.pop("text_col"), id_col=c.pop("id_col"), **c)
    if t == "changelog_to_scd2":
        return sf.changelog_to_scd2(keys=c.pop("keys"), ts_col=c.pop("ts_col"),
                                    attrs=c.pop("attrs"), **c)
    if t == "winsorize":
        return sf.winsorize(c.pop("value_col"), **c)
    if t == "ewma":
        return sf.ewma(c.pop("ts_col"), c.pop("value_col"),
                       keys=c.pop("keys"), alpha=c.pop("alpha"), **c)
    if t == "ewma_bucketed":
        return sf.ewma_bucketed(c.pop("ts_col"), c.pop("value_col"),
                                keys=c.pop("keys"), alpha=c.pop("alpha"),
                                bucket_width=c.pop("bucket_width"), **c)
    if t == "streaks":
        return sf.streaks(c.pop("ts_col"), keys=c.pop("keys"),
                          bucket_width=c.pop("bucket_width"), **c)
    if t == "attribute_conversions":
        return sf.attribute_conversions(
            conversion_type=c.pop("conversion_type"),
            touch_types=c.pop("touch_types"), horizon=c.pop("horizon"), **c)
    if t == "heavy_hitters":
        return sf.heavy_hitters(c.pop("value_col"), **c)
    if t == "flag_outliers":
        return sf.flag_outliers(c.pop("value_col"), **c)
    if t == "flag_outliers_mad":
        return sf.flag_outliers_mad(c.pop("value_col"), **c)
    if t == "histogram":
        return sf.histogram(c.pop("value_col"), bin_width=c.pop("bin_width"), **c)
    if t == "running_totals":
        return sf.running_totals(c.pop("value_col"), keys=c.pop("keys"),
                                 order_by=c.pop("order_by"), **c)
    if t == "weighted_quantiles":
        return sf.weighted_quantiles(c.pop("value_col"), c.pop("weight_col"),
                                     qs_bp=c.pop("qs_bp"), **c)
    if t == "trend_fit":
        return sf.trend_fit(c.pop("x_col"), c.pop("y_col"), **c)
    if t == "benford_profile":
        return sf.benford_profile(c.pop("value_col"), **c)
    if t == "data_diff":
        return sf.diff_against(datasets[c.pop("right")], c.pop("keys"), **c)
    if t == "group_concat":
        return sf.group_concat(c.pop("group_cols"), c.pop("value_col"), **c)
    if t == "profile_columns":
        return sf.profile_columns(c.pop("columns", None))
    if t == "check_constraints":
        return sf.check_constraints(c.pop("constraints"))
    if t == "fk_violations":
        return sf.fk_violations(datasets[c.pop("parent")], c.pop("on"))
    if t == "debounce":
        return sf.debounce(keys=c.pop("keys"), ts_col=c.pop("ts_col"),
                           min_gap_ns=c.pop("min_gap_ns"), **c)
    if t == "throttle":
        return sf.throttle(keys=c.pop("keys"), ts_col=c.pop("ts_col"),
                           window_ns=c.pop("window_ns"),
                           max_per_window=c.pop("max_per_window"), **c)
    if t == "apply_cdc":
        return sf.apply_cdc(datasets[c.pop("changes")], keys=c.pop("keys"),
                            ts_col=c.pop("ts_col"), **c)
    if t == "collapse_rare":
        return sf.collapse_rare(c.pop("col"), **c)
    if t == "target_encode_loo":
        return sf.target_encode_loo(c.pop("category_col"), c.pop("target_col"), **c)
    if t == "ab_test_summary":
        return sf.ab_test_summary(c.pop("variant_col"), c.pop("success_col"), **c)
    if t == "cohort_values":
        return sf.cohort_values(entity_col=c.pop("entity_col"), ts_col=c.pop("ts_col"),
                                value_col=c.pop("value_col"), width_ns=c.pop("width_ns"), **c)
    if t == "decade_histogram":
        return sf.decade_histogram(c.pop("value_col"), **c)
    if t == "seasonal_outliers":
        return sf.seasonal_outliers(c.pop("value_col"), c.pop("ts_col"), **c)
    if t == "pair_metrics":
        return sf.pair_metrics(datasets[c.pop("truth")], **c)
    if t == "gini":
        return sf.gini(c.pop("value_col"), **c)
    if t == "skyline":
        return sf.skyline(c.pop("x_col"), c.pop("y_col"), **c)
    if t == "period_over_period":
        return sf.period_over_period(c.pop("ts_col"), c.pop("value_col"),
                                     width_ns=c.pop("width_ns"), **c)
    if t == "basket_pairs":
        return sf.basket_pairs(c.pop("basket_col"), c.pop("item_col"), **c)
    if t == "audience_overlap":
        return sf.audience_overlap(c.pop("entity_col"), c.pop("group_col"), **c)
    if t == "auc":
        return sf.auc(c.pop("score_col"), c.pop("label_col"), **c)
    if t == "chi_square":
        return sf.chi_square(c.pop("col_a"), c.pop("col_b"), **c)
    if t == "ks_test":
        return sf.ks_test(c.pop("value_col"), c.pop("group_col"),
                          group_a=c.pop("group_a"), group_b=c.pop("group_b"), **c)
    if t == "concentration":
        return sf.concentration(c.pop("value_col"), c.pop("entity_col"), **c)
    if t == "diversity":
        return sf.diversity(c.pop("category_col"), **c)
    if t == "mode":
        return sf.mode(c.pop("value_col"), **c)
    if t == "lift_table":
        return sf.lift_table(c.pop("score_col"), c.pop("label_col"), **c)
    if t == "vocab_profile":
        return sf.vocab_profile(c.pop("text_col"), id_col=c.pop("id_col"), **c)
    if t == "dup_cluster_sizes":
        return sf.dup_cluster_sizes(c.pop("text_col"), **c)
    if t == "bursts":
        return sf.bursts(keys=c.pop("keys"), ts_col=c.pop("ts_col"),
                         window_ns=c.pop("window_ns"))
    if t == "transition_probs":
        return sf.transition_probs(keys=c.pop("keys"), ts_col=c.pop("ts_col"),
                                   state_col=c.pop("state_col"), **c)
    if t == "pareto_coverage":
        kw = dict(c)
        return sf.pareto_coverage(
            kw.pop("value_col"), kw.pop("entity_col"),
            **{k: tuple(v) if k == "thresholds_bp" else v for k, v in kw.items()})
    if t == "correlation_r2":
        return sf.correlation_r2(c.pop("x_col"), c.pop("y_col"), **c)
    if t == "sequence_ngrams":
        return sf.sequence_ngrams(keys=c.pop("keys"), ts_col=c.pop("ts_col"),
                                  state_col=c.pop("state_col"), **c)
    if t == "zipf_profile":
        return sf.zipf_profile(c.pop("text_col"), id_col=c.pop("id_col"), **c)
    if t == "rfm_segments":
        return sf.rfm_segments(keys=c.pop("keys"), ts_col=c.pop("ts_col"),
                               amount_col=c.pop("amount_col"), **c)
    if t == "spearman":
        return sf.spearman(c.pop("x_col"), c.pop("y_col"), **c)
    if t == "cramers_v2":
        return sf.cramers_v2(c.pop("col_a"), c.pop("col_b"), **c)
    if t == "impurity":
        return sf.impurity(c.pop("feature_col"), c.pop("label_col"), **c)
    if t == "dist_drift":
        return sf.dist_drift(c.pop("category_col"), c.pop("period_col"),
                             base=c.pop("base"), current=c.pop("current"), **c)
    if t == "woe_table":
        return sf.woe_table(c.pop("feature_col"), c.pop("label_col"), **c)
    if t == "cohen_kappa":
        return sf.cohen_kappa(c.pop("rater_a"), c.pop("rater_b"), **c)
    if t == "psi":
        return sf.psi(c.pop("category_col"), c.pop("period_col"),
                      base=c.pop("base"), current=c.pop("current"), **c)
    if t == "ngram_novelty":
        return sf.ngram_novelty(c.pop("text_col"), id_col=c.pop("id_col"), **c)
    if t == "trimmed_mean":
        return sf.trimmed_mean(c.pop("value_col"), by=c.pop("by"), **c)
    if t == "mann_kendall":
        return sf.mann_kendall(c.pop("ts_col"), c.pop("value_col"),
                               by=c.pop("by"), **c)
    if t == "kendall_tau":
        return sf.kendall_tau(c.pop("x_col"), c.pop("y_col"),
                              by=c.pop("by"), **c)
    if t == "theil_sen":
        return sf.theil_sen(c.pop("ts_col"), c.pop("value_col"),
                            by=c.pop("by"), **c)
    if t == "kaplan_meier":
        return sf.kaplan_meier(c.pop("duration_col"), c.pop("event_col"), **c)
    if t == "bootstrap_ci":
        return sf.bootstrap_ci(c.pop("value_col"), id_col=c.pop("id_col"), **c)
    if t == "kruskal_wallis":
        return sf.kruskal_wallis(c.pop("value_col"), c.pop("group_col"), **c)
    if t == "mutual_info":
        return sf.mutual_info(c.pop("a_col"), c.pop("b_col"), **c)
    if t == "anova_f":
        return sf.anova_f(c.pop("value_col"), c.pop("group_col"), **c)
    if t == "triangle_count":
        return sf.triangle_count(c.pop("src"), c.pop("dst"))
    if t == "pagerank":
        return sf.pagerank(c.pop("src"), c.pop("dst"), **c)
    if t == "graph_components":
        return sf.graph_components(c.pop("src"), c.pop("dst"), **c)
    if t == "jaccard_neighbors":
        return sf.jaccard_neighbors(c.pop("src"), c.pop("dst"), **c)
    if t == "label_propagation":
        seeds = datasets[c.pop("seeds")]
        return sf.label_propagation(seeds, c.pop("src"), c.pop("dst"), **c)
    if t == "changepoint_mean_shift":
        return sf.changepoint_mean_shift(keys=c.pop("keys"),
                                         ts_col=c.pop("ts_col"),
                                         value_col=c.pop("value_col"), **c)
    if t == "sma_crossover":
        return sf.sma_crossover(keys=c.pop("keys"), ts_col=c.pop("ts_col"),
                                value_col=c.pop("value_col"), **c)
    if t == "runs":
        return sf.runs(keys=c.pop("keys"), ts_col=c.pop("ts_col"),
                       value_col=c.pop("value_col"), **c)
    if t == "acf_table":
        return sf.acf_table(keys=c.pop("keys"), ts_col=c.pop("ts_col"),
                            value_col=c.pop("value_col"), **c)
    if t == "session_entry_exit":
        return sf.session_entry_exit(keys=c.pop("keys"), ts_col=c.pop("ts_col"),
                                     page_col=c.pop("page_col"),
                                     gap=c.pop("gap"),
                                     tiebreak=c.pop("tiebreak"), **c)
    if t == "vocab_growth":
        return sf.vocab_growth(c.pop("text_col"), id_col=c.pop("id_col"), **c)
    if t == "curriculum_order":
        return sf.curriculum_order(c.pop("score_col"),
                                   id_cols=c.pop("id_cols"), **c)
    if t == "edit_distance_pairs":
        return sf.edit_distance_pairs(c.pop("id_col"), c.pop("text_col"), **c)
    if t == "interval_union":
        return sf.interval_union(keys=c.pop("keys"), start_col=c.pop("start_col"),
                                 end_col=c.pop("end_col"), **c)
    if t == "session_paths":
        return sf.session_paths(session_keys=c.pop("session_keys"),
                                state_col=c.pop("state_col"), ts_col=c.pop("ts_col"), **c)
    if t == "autocorr_lag":
        return sf.autocorr_lag(c.pop("value_col"), keys=c.pop("keys"),
                               ts_col=c.pop("ts_col"), **c)
    if t == "null_runs":
        return sf.null_runs(c.pop("value_col"), keys=c.pop("keys"),
                            ts_col=c.pop("ts_col"), **c)
    if t == "changepoint_cusum":
        return sf.changepoint_cusum(c.pop("value_col"), keys=c.pop("keys"),
                                    ts_col=c.pop("ts_col"), threshold=c.pop("threshold"), **c)
    if t == "state_durations":
        return sf.state_durations(keys=c.pop("keys"), ts_col=c.pop("ts_col"),
                                  state_col=c.pop("state_col"), **c)
    if t == "rollup_state":
        return sf.rollup_state(c.pop("keys"), {k: tuple(v) for k, v in c.pop("aggs").items()})
    if t == "merge_rollup":
        return sf.merge_rollup(datasets[c.pop("delta")], c.pop("keys"),
                               {k: tuple(v) for k, v in c.pop("aggs").items()})
    if t == "sample_pps":
        return sf.sample_pps(c.pop("weight_col"), c.pop("n"),
                             order_by=c.pop("order_by"), **c)
    if t == "percentile_normalize":
        return sf.percentile_normalize(c.pop("value_col"), **c)
    if t == "active_users_approx":
        kw = dict(c)
        return sf.active_users_approx(
            kw.pop("ts_col"), user_col=kw.pop("user_col"),
            **{k: tuple(v) if k == "windows" else v for k, v in kw.items()})
    if t == "active_users":
        kw = dict(c)
        return sf.active_users(kw.pop("ts_col"), user_col=kw.pop("user_col"),
                               **{k: tuple(v) if k == "windows" else v
                                  for k, v in kw.items()})
    if t == "time_profile":
        _aggs = c.pop("aggs", None)
        return sf.time_profile(
            c.pop("ts_col"), aggs=_expr_aggs(_aggs) if _aggs else None, **c)
    if t == "melt":
        return sf.melt(c.pop("id_cols"), c.pop("value_cols"), **c)
    if t == "json_extract":
        return sf.json_extract(c.pop("json_col"), c.pop("fields"), **c)
    if t == "keywords":
        return sf.keywords(c.pop("text_col"), id_col=c.pop("id_col"), **c)
    # plugin operators: entry-point group docetl_spark.operators or
    # register_operator() (reference operations/__init__.py:54-76)
    from ..plugins import get_operator

    plugin = get_operator(t)
    if plugin is not None:
        return plugin(sf, dict(spec.config), datasets)
    raise ValueError(f"unknown op type {t!r}")


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

    Each op's output is persisted (evictable MEMORY_AND_DISK) and
    counted once before the next op runs, like the reference, whose ops
    each return a full list. The eager jobs inside resolve, equijoin and
    blocking then read that output instead of recomputing the model
    stages above it, so a model call happens once per row per op. An
    op's output is released once its successor is counted; each step's
    output stays pinned for later steps until the run ends. Only the
    result stays pinned after that, until the returned frame's
    ``collect()`` / ``release_caches()``. A checkpoint hit takes the
    same per-op path as a miss.

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
    rewrites_fired: list[str] = []
    step_outputs = []  # persisted step outputs, kept until the last step is counted
    dataset_configs = config.get("datasets", {})
    for step in config["pipeline"]["steps"]:
        sf = datasets[step["input"]] if "input" in step else last
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
            sf.df.persist()
            tracker.op_done(name, out_count=sf.df.count())
            if emit is not None:
                emit(render_line(tracker.snapshot().get(name)))
            if prev is not None:
                prev.unpersist()
            prev = sf.df
        if prev is not None:
            step_outputs.append(prev)
        # step boundary: register output as a named dataset (containers.py:514)
        datasets[step["name"]] = sf
        sf.df.createOrReplaceTempView(step["name"])
        last = sf

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
    # later steps are done with the earlier step outputs; only the
    # result stays pinned, until last.collect() / release_caches()
    for df in step_outputs:
        if df is not last.df:
            df.unpersist()
    pinned = tuple(df for df in step_outputs if df is last.df)
    object.__setattr__(last, "_caches", last._caches + pinned)
    object.__setattr__(last, "op_log", last.op_log + (("rewrites", {"fired": rewrites_fired}),))
    if validation_notes:
        object.__setattr__(last, "op_log", last.op_log + (("validation", tuple(validation_notes)),))
    return last
