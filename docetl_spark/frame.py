"""SemanticFrame — the engine's primary user API.

Mirrors the reference's lazy pandas-like ``Frame``
(/root/reference/docetl/frame.py: chained builders -> runner), but here
each builder compiles immediately onto a real Spark DataFrame, so
Catalyst sees the whole declarative plan (predicate pushdown, column
pruning, join selection, AQE) while we keep an op-log for
semantic-layer rewrites and ``explain``.

Laziness falls out of Spark: nothing executes until an action
(collect/show/count/write).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from .backend import ModelBackend
from .operators import (
    cluster as cluster_op,
    code_ops,
    equijoin as equijoin_op,
    extract as extract_op,
    gather as gather_op,
    link_resolve as link_resolve_op,
    rank as rank_op,
    resolve as resolve_op,
    sample as sample_op,
    semantic,
    shape,
    web_ops,
)
from .sources import readers


def _fn_or_code(fn, entry: str):
    """Accept a callable or python source defining ``transform`` (the
    reference's universal code-op entry point, code_operations.py:149-163)
    or the op-specific legacy name in ``entry``; return (callable,
    source-or-None). Source-backed code ops are YAML-exportable (the
    reference's code ops carry their source in config); bare callables
    are Python-only, like the reference's agent tools."""
    if callable(fn):
        return fn, None
    ns: dict = {}
    exec(fn, ns)  # noqa: S102 — the reference executes code-op source the same way
    for name in ("transform", entry):
        if callable(ns.get(name)):
            return ns[name], fn
    raise ValueError(f"code op source must define transform() (or {entry}())")


# Optional keys whose default values are omitted from exported configs so
# a fluent-built frame and its YAML replay serialize identically.
_EXPORT_DEFAULTS = {
    "max_batch_size": 16, "num_retries_on_validate_failure": 0,
    "calibrate": False, "keep_empty": False, "recursive": False,
    "batch_prompt": False, "pass_through": False, "add_count": True,
}

# ops with YAML/pipeline-config equivalents (compiler.apply_op's catalog);
# everything else in the op-log is Python-only and blocks export.
_EXPORTABLE = {
    "map", "parallel_map", "filter", "reduce", "code_map", "code_filter",
    "code_reduce", "split", "gather", "unnest", "unnest_columns",
    "add_uuid", "sample", "topk", "rank", "extract", "resolve", "cluster",
    "link_resolve", "limit", "pack_sequences", "pack_documents", "sample_temperature",
    "near_dup_minhash", "dedup_passages", "near_dup_grams",
}


@dataclass(frozen=True)
class SemanticFrame:
    df: DataFrame
    backend: ModelBackend | None = None
    op_log: tuple = field(default_factory=tuple)
    # memo for repeated terminal actions on this (immutable) frame —
    # reference frame.py:1034-1063 memoizes on the built config; here the
    # config can never change under an instance, so one slot suffices
    _memo: dict = field(default_factory=dict, compare=False, repr=False)
    # Observation-based per-op row profiling (reference containers.py
    # 442-466 tracks observed selectivity during its pull execution; here
    # CollectMetrics nodes ride the SAME action — zero extra Spark jobs)
    _observe: bool = field(default=False, compare=False, repr=False)
    _obs: tuple = field(default_factory=tuple, compare=False, repr=False)
    # Persist release handles (r12, ADVICE r11): ops that .persist() an
    # intermediate attach it to their result as ``_docetl_cached_input``
    # (DataFrame or list). ``_next``'s observe wrapper used to DROP that
    # plain attribute, so frame-level pipelines pinned corpus-scale
    # cached relations for the whole session (Spark's CacheManager never
    # evicts without unpersist/clearCache). The frame now carries them
    # here and ``collect()`` releases them after its memoizing
    # materialization (see collect's docstring for the recompute
    # trade-off); ``release_caches()`` is the explicit path.
    _caches: tuple = field(default_factory=tuple, compare=False, repr=False)

    # ------------------------------------------------------------ factory
    @classmethod
    def read_parquet(cls, spark: SparkSession, path: str, *, backend=None) -> "SemanticFrame":
        return cls(readers.read_parquet(spark, path), backend,
                   (("scan", {"path": path, "format": "parquet"}),))

    @classmethod
    def read_json(cls, spark: SparkSession, path: str, *, backend=None, **kw) -> "SemanticFrame":
        return cls(readers.read_json(spark, path, **kw), backend,
                   (("scan", {"path": path, "format": "json"}),))

    @classmethod
    def read_csv(cls, spark: SparkSession, path: str, *, backend=None, **kw) -> "SemanticFrame":
        return cls(readers.read_csv(spark, path, **kw), backend,
                   (("scan", {"path": path, "format": "csv"}),))

    @classmethod
    def read_dir(cls, spark: SparkSession, path: str, *, backend=None, **kw) -> "SemanticFrame":
        return cls(readers.read_dir(spark, path, **kw), backend,
                   (("scan", {"path": path, "format": "dir"}),))

    @classmethod
    def from_list(cls, spark: SparkSession, rows: list[dict], *, backend=None, **kw) -> "SemanticFrame":
        return cls(readers.from_list(spark, rows, **kw), backend,
                   (("scan", {"path": "<memory>"}),))

    @classmethod
    def from_df(cls, df: DataFrame, *, backend=None) -> "SemanticFrame":
        return cls(df, backend, (("scan", {"path": "<dataframe>"}),))

    def _next(self, df: DataFrame, op: str, **conf) -> "SemanticFrame":
        # harvest any persist release-handle BEFORE the observe wrapper
        # discards the attribute-carrying DataFrame object
        handle = getattr(df, "_docetl_cached_input", None)
        caches = self._caches
        if handle is not None:
            caches = caches + tuple(
                handle if isinstance(handle, (list, tuple)) else [handle])
        obs = self._obs
        if self._observe:
            from pyspark.sql import Observation

            o = Observation(f"op{len(self.op_log)}:{op}")
            df = df.observe(o, F.count(F.lit(1)).alias("rows"))
            obs = obs + ((op, o),)
        return SemanticFrame(df, self.backend, self.op_log + ((op, conf),),
                             _observe=self._observe, _obs=obs, _caches=caches)

    def _require_backend(self, op: str) -> ModelBackend:
        if self.backend is None:
            raise ValueError(f"{op} is a semantic op and needs a ModelBackend (backend=...)")
        return self.backend

    # ------------------------------------------------------- native layer
    def select(self, *cols) -> "SemanticFrame":
        return self._next(self.df.select(*cols), "select")

    def with_columns(self, **exprs) -> "SemanticFrame":
        out = self.df
        for name, expr in exprs.items():
            out = out.withColumn(name, F.expr(expr) if isinstance(expr, str) else expr)
        return self._next(out, "with_columns", cols=list(exprs))

    def where(self, condition) -> "SemanticFrame":
        cond = F.expr(condition) if isinstance(condition, str) else condition
        return self._next(self.df.filter(cond), "where")

    def join(self, other: "SemanticFrame | DataFrame", on, how: str = "inner", *, broadcast: bool = False) -> "SemanticFrame":
        right = other.df if isinstance(other, SemanticFrame) else other
        right = F.broadcast(right) if broadcast else right
        return self._next(self.df.join(right, on, how), "join", how=how)

    def group_agg(self, keys: list[str], **aggs) -> "SemanticFrame":
        exprs = [(F.expr(a) if isinstance(a, str) else a).alias(name) for name, a in aggs.items()]
        return self._next(self.df.groupBy(*keys).agg(*exprs), "group_agg", keys=keys)

    def order_by(self, *cols) -> "SemanticFrame":
        return self._next(self.df.orderBy(*cols), "order_by")

    def limit(self, n: int) -> "SemanticFrame":
        return self._next(self.df.limit(n), "limit", n=n)

    def union(self, other: "SemanticFrame") -> "SemanticFrame":
        return self._next(self.df.unionByName(other.df), "union")

    def distinct(self) -> "SemanticFrame":
        return self._next(self.df.distinct(), "distinct")

    def intersect(self, other: "SemanticFrame | DataFrame") -> "SemanticFrame":
        right = other.df if isinstance(other, SemanticFrame) else other
        return self._next(self.df.intersect(right), "intersect")

    def except_rows(self, other: "SemanticFrame | DataFrame", *, all: bool = False) -> "SemanticFrame":
        right = other.df if isinstance(other, SemanticFrame) else other
        out = self.df.exceptAll(right) if all else self.df.subtract(right)
        return self._next(out, "except_rows", all=all)

    # --------------------------------------------------------- code ops
    def code_map(self, fn: "Callable[[dict], dict] | str", output_schema: dict, *, drop_keys=None) -> "SemanticFrame":
        fn, code = _fn_or_code(fn, "transform")
        return self._next(code_ops.code_map(self.df, fn, output_schema, drop_keys=drop_keys),
                          "code_map", code=code, output={"schema": output_schema}, drop_keys=drop_keys)

    def code_filter(self, predicate, *, limit=None) -> "SemanticFrame":
        pred_conf = predicate if isinstance(predicate, str) else None
        # code source is any string with a function DEF on some line
        # (imports/comments/docstrings may precede it — startswith('def ')
        # misrouted those to the SQL-expression path); everything else is
        # a SQL predicate expression
        is_code = isinstance(predicate, str) and any(
            ln.lstrip().startswith("def ") for ln in predicate.splitlines()
        )
        if is_code:
            predicate, pred_code = _fn_or_code(predicate, "predicate")
            return self._next(code_ops.code_filter(self.df, predicate, limit=limit),
                              "code_filter", code=pred_code, limit=limit)
        return self._next(code_ops.code_filter(self.df, predicate, limit=limit),
                          "code_filter", predicate=pred_conf, limit=limit)

    def code_reduce(self, reduce_key, fn, output_schema: dict, **kw) -> "SemanticFrame":
        fn, code = _fn_or_code(fn, "reduce_fn")
        return self._next(code_ops.code_reduce(self.df, reduce_key, fn, output_schema, **kw),
                          "code_reduce", reduce_key=reduce_key, code=code,
                          output={"schema": output_schema}, **kw)

    # -------------------------------------------------------- shape ops
    def split(self, split_key: str, method: str, method_kwargs: dict | None = None, **kw) -> "SemanticFrame":
        method_kwargs = method_kwargs or {}
        return self._next(shape.split(self.df, split_key, method, method_kwargs, **kw),
                          "split", split_key=split_key, method=method, method_kwargs=method_kwargs, **kw)

    def unnest(self, unnest_key: str, **kw) -> "SemanticFrame":
        return self._next(shape.unnest(self.df, unnest_key, **kw), "unnest", unnest_key=unnest_key, **kw)

    def unnest_columns(self, column: str) -> "SemanticFrame":
        return self._next(shape.unnest_columns(self.df, column), "unnest_columns", column=column)

    def add_uuid(self, id_key: str = "uuid_id", **kw) -> "SemanticFrame":
        return self._next(shape.add_uuid(self.df, id_key, **kw), "add_uuid", id_key=id_key, **kw)

    def gather(self, content_key: str, doc_id_key: str, order_key: str, **kw) -> "SemanticFrame":
        return self._next(gather_op.gather(self.df, content_key, doc_id_key, order_key, **kw),
                          "gather", content_key=content_key, doc_id_key=doc_id_key,
                          order_key=order_key, **kw)

    # ------------------------------------------------------- sample ops
    def sample(self, method: str, samples: Any = None, **kw) -> "SemanticFrame":
        fn = {
            "first": sample_op.sample_first,
            "uniform": sample_op.sample_uniform,
            "custom": sample_op.sample_custom,
            "stratified": sample_op.sample_stratified_first,
            "outliers": sample_op.sample_outliers,
            "top_embedding": sample_op.sample_top_embedding,
            "top_fts": sample_op.sample_top_fts,
            "smart": sample_op.smart_sample,
        }[method]
        args = (self.df, samples) if samples is not None else (self.df,)
        return self._next(fn(*args, **kw), "sample", method=method, samples=samples, **kw)

    def topk(self, method: str, k: int, **kw) -> "SemanticFrame":
        conf = {"method": method, "k": k, **kw}
        if method == "embedding":
            return self._next(
                sample_op.sample_top_embedding(self.df, kw.pop("query_vector"), k, name=kw.pop("name", "topk"), **kw),
                "topk", **conf,
            )
        if method == "fts":
            return self._next(
                sample_op.sample_top_fts(self.df, kw.pop("query"), k, name=kw.pop("name", "topk"), **kw),
                "topk", **conf,
            )
        if method == "llm_compare":
            # delegate to rank, take the head (topk.py:208-261); the rank
            # scoring method rides in as rank_method (default likert)
            be = self._require_backend("topk llm_compare")
            ranked = rank_op.rank(self.df, be, method=kw.pop("rank_method", "likert"), **kw)
            return self._next(ranked.filter(F.col(kw.get("rank_col", "_rank")) <= k), "topk", **conf)
        raise ValueError(f"unknown topk method {method!r}")

    # ----------------------------------------------------- semantic ops
    def map(self, prompt: str, output_schema: dict, **kw) -> "SemanticFrame":
        be = self._require_backend("map")
        return self._next(semantic.semantic_map(self.df, prompt, output_schema, be, **kw),
                          "map", prompt=prompt, output={"schema": output_schema}, **kw)

    def parallel_map(self, prompts: list[dict], output_schema: dict, *, drop_keys=None) -> "SemanticFrame":
        be = self._require_backend("parallel_map")
        return self._next(
            semantic.semantic_parallel_map(self.df, prompts, output_schema, be, drop_keys=drop_keys),
            "parallel_map", prompts=prompts, output={"schema": output_schema}, drop_keys=drop_keys,
        )

    def filter(self, prompt: str, output_schema: dict, **kw) -> "SemanticFrame":
        be = self._require_backend("filter")
        return self._next(semantic.semantic_filter(self.df, prompt, output_schema, be, **kw),
                          "filter", prompt=prompt, output={"schema": output_schema}, **kw)

    def reduce(self, reduce_key, prompt: str, output_schema: dict, **kw) -> "SemanticFrame":
        be = self._require_backend("reduce")
        return self._next(semantic.semantic_reduce(self.df, reduce_key, prompt, output_schema, be, **kw),
                          "reduce", reduce_key=reduce_key, prompt=prompt,
                          output={"schema": output_schema}, **kw)

    def resolve(self, *, id_col: str, comparison_prompt: str, output_schema: dict, **kw) -> "SemanticFrame":
        be = self._require_backend("resolve")
        return self._next(
            resolve_op.resolve(
                self.df, be, id_col=id_col, comparison_prompt=comparison_prompt,
                output_schema=output_schema, **kw,
            ),
            "resolve", id_col=id_col, comparison_prompt=comparison_prompt,
            output={"schema": output_schema}, **kw,
        )

    def equijoin(self, other: "SemanticFrame | DataFrame", *, comparison_prompt: str,
                 left_keys: list[str], right_keys: list[str], **kw) -> "SemanticFrame":
        be = self._require_backend("equijoin")
        right = other.df if isinstance(other, SemanticFrame) else other
        return self._next(
            equijoin_op.equijoin(
                self.df, right, be, comparison_prompt=comparison_prompt,
                left_keys=left_keys, right_keys=right_keys, **kw,
            ),
            "equijoin",
        )

    def rank(self, *, method: str = "embedding", **kw) -> "SemanticFrame":
        be = self._require_backend("rank")
        return self._next(rank_op.rank(self.df, be, method=method, **kw), "rank", method=method, **kw)

    def extract(self, prompt: str, document_keys: list[str], **kw) -> "SemanticFrame":
        be = self._require_backend("extract")
        return self._next(
            extract_op.extract(self.df, be, prompt=prompt, document_keys=document_keys, **kw),
            "extract", prompt=prompt, document_keys=document_keys, **kw,
        )

    def cluster(self, *, id_col: str, embedding_keys: list[str] | None = None, **kw) -> "SemanticFrame":
        be = self.backend if kw.get("embedding_col") else self._require_backend("cluster")
        conf = {"id_col": id_col, "embedding_keys": embedding_keys, **kw}
        fn = cluster_op.cluster_distributed if kw.pop("distributed", False) else cluster_op.cluster
        return self._next(
            fn(self.df, be, id_col=id_col, embedding_keys=embedding_keys, **kw),
            "cluster", **conf,
        )

    def link_resolve(self, *, id_key: str, link_key: str, **kw) -> "SemanticFrame":
        be = self._require_backend("link_resolve")
        return self._next(
            link_resolve_op.link_resolve(self.df, be, id_key=id_key, link_key=link_key, **kw),
            "link_resolve", id_key=id_key, link_key=link_key, **kw,
        )

    # ------------------------------------------- training-pipeline ops
    # Beyond-reference surface (COVERAGE.md "training-data pipeline
    # ops"): dedup, packing, contamination, data-mixing — first-class
    # frame methods so a pipeline stays one fluent chain.

    def dedup_exact(self, text_col: str, *, order_by: list, **kw) -> "SemanticFrame":
        from .functions import dedup as dedup_fn

        return self._next(
            dedup_fn.exact_dedup(self.df, text_col, order_by=order_by, **kw),
            "dedup_exact", text_col=text_col,
        )

    def near_dup_minhash(self, id_col: str, text_col: str, **kw) -> "SemanticFrame":
        """Rows minus MinHash+LSH near-duplicates. Default keeps the
        smallest id per duplicate cluster; ``keep_order=[cols]`` picks
        the representative (e.g. highest quality), ``with_stats=True``
        appends component + cluster_size."""
        from .functions import dedup as dedup_fn

        # keep_order holds Column objects — not YAML-serializable; mark
        # it so to_yaml raises instead of replaying with min-id keep
        conf = {"id_col": id_col, "text_col": text_col,
                **{k: v for k, v in kw.items() if k != "keep_order"}}
        if kw.get("keep_order") is not None:
            conf["_keep_order"] = True
        return self._next(
            dedup_fn.minhash_dedup(self.df, id_col, text_col, **kw),
            "near_dup_minhash", **conf,
        )

    def near_dup_simhash(self, id_col: str, text_col: str, *,
                         max_hamming: int = 3, sim_col: str = "_simhash") -> "SemanticFrame":
        """SimHash near-dup candidate pairs (pigeonhole 16-bit chunk
        blocking, full-hamming verify) — returns (id_a, id_b, hamming)
        like near_dup_grams returns pairs, not a deduplicated frame."""
        from .functions import dedup as dedup_fn

        with_sh = self.df.withColumn(sim_col, dedup_fn.simhash64(F.col(text_col)))
        return self._next(
            dedup_fn.simhash_candidate_pairs(
                with_sh, id_col, sim_col, max_hamming=max_hamming
            ),
            "near_dup_simhash", id_col=id_col, text_col=text_col,
            max_hamming=max_hamming,
        )

    def retrieve_context(self, corpus: "SemanticFrame | DataFrame", *,
                         text_keys: list[str], k: int = 5, **kw) -> "SemanticFrame":
        """Distributed per-row RAG context (retrievers.
        retrieve_context_join): both sides embed executor-side via the
        frame's backend, candidates from an LSH bucket equi-join (no
        broadcast, no driver index), context assembled JVM-side into
        ``_retrieved_context`` for map(retrieved_context_col=...)."""
        from . import retrievers

        be = self._require_backend("retrieve_context")
        cdf = corpus.df if isinstance(corpus, SemanticFrame) else corpus
        return self._next(
            retrievers.retrieve_context_join(
                self.df, cdf, be, text_keys=text_keys, k=k, **kw
            ),
            "retrieve_context", text_keys=list(text_keys), k=k, **kw,
        )

    def dedup_passages(self, text_col: str, *, id_col: str, chunk_tokens: int = 50) -> "SemanticFrame":
        """C4-style corpus-wide duplicate-passage removal (keep-first per
        distinct chunk, docs rebuilt from survivors)."""
        from .functions import passages as passages_fn

        return self._next(
            passages_fn.passage_dedup(self.df, text_col, id_col=id_col, chunk_tokens=chunk_tokens),
            "dedup_passages", text_col=text_col, id_col=id_col, chunk_tokens=chunk_tokens,
        )

    def dedup_substrings(self, text_col: str, *, id_col: str, min_tokens: int = 8) -> "SemanticFrame":
        """Exact-substring span dedup (Lee et al. 2022 family): cut every
        non-first occurrence of any ``min_tokens``-token window, merging
        overlapping windows into contiguous holes."""
        from .functions import passages as passages_fn

        return self._next(
            passages_fn.substring_dedup(self.df, text_col, id_col=id_col, min_tokens=min_tokens),
            "dedup_substrings", text_col=text_col, id_col=id_col, min_tokens=min_tokens,
        )

    def near_dup_grams(self, id_col: str, text_col: str, **kw) -> "SemanticFrame":
        """Exact-substring overlap candidate pairs via sampled k-gram
        md5 fingerprints (MOSS-style)."""
        from .functions import passages as passages_fn

        return self._next(
            passages_fn.gram_fingerprint_pairs(self.df, text_col, id_col=id_col, **kw),
            "near_dup_grams", id_col=id_col, text_col=text_col, **kw,
        )

    def dedup_semantic(self, id_col: str, *, vec_col: str = "embedding", **kw) -> "SemanticFrame":
        """SemDeDup: cluster the embedding space (injected centroids or
        bounded-sample k-means), drop rows dominated by a same-cluster
        near-dup (cosine >= threshold). Pairs come from an equi-join on
        the cluster id — never all-pairs."""
        from .functions import similarity as sim_fn

        conf = {"id_col": id_col, "vec_col": vec_col,
                **{k: v for k, v in kw.items() if k != "centroids"}}
        if kw.get("centroids") is not None:
            conf["_centroids"] = True  # numpy array — not YAML-serializable
        # persist: the assignment feeds both the dominance pass and the
        # anti-join main side; unpersisted, an upstream embed/LLM stage
        # (the frame-level composition this verb exists for) would run
        # twice. Release handle rides on the result.
        src = self.df.persist()
        out = sim_fn.semdedup(src, id_col, vec_col=vec_col, **kw)
        out._docetl_cached_input = src
        return self._next(out, "dedup_semantic", **conf)

    def dedup_incremental(self, store: "SemanticFrame | DataFrame", text_col: str, *, id_col: str, **kw) -> "SemanticFrame":
        """Keep rows new vs. an existing corpus / fingerprint store."""
        from .functions import passages as passages_fn

        right = store.df if isinstance(store, SemanticFrame) else store
        return self._next(
            passages_fn.incremental_dedup(self.df, right, text_col, id_col=id_col, **kw),
            "dedup_incremental", text_col=text_col, id_col=id_col,
        )

    def pack_sequences(self, *, budget: int, **kw) -> "SemanticFrame":
        from .functions import training

        # shard_expr is a Column — not YAML-serializable; record a marker
        # so to_yaml raises instead of silently replaying with the
        # default hash sharding (which would produce different output)
        conf = {k: v for k, v in kw.items() if k != "shard_expr"}
        if kw.get("shard_expr") is not None:
            conf["_shard_expr"] = True
        return self._next(
            training.pack_sequences(self.df, budget=budget, **kw),
            "pack_sequences", budget=budget, **conf,
        )

    def pack_documents(self, *, budget: int, **kw) -> "SemanticFrame":
        """No-split next-fit packing (training.pack_documents): whole
        docs into fixed-budget bins; oversized docs flagged."""
        from .functions import training

        conf = {k: v for k, v in kw.items() if k != "shard_expr"}
        if kw.get("shard_expr") is not None:
            conf["_shard_expr"] = True
        return self._next(
            training.pack_documents(self.df, budget=budget, **kw),
            "pack_documents", budget=budget, **conf,
        )

    def contamination(self, benchmark: "SemanticFrame | DataFrame", **kw) -> "SemanticFrame":
        from .functions import training

        bdf = benchmark.df if isinstance(benchmark, SemanticFrame) else benchmark
        return self._next(
            training.ngram_overlap(self.df, bdf, **kw), "contamination", **kw
        )

    def decontaminate(self, benchmark: "SemanticFrame | DataFrame", **kw) -> "SemanticFrame":
        """Drop rows sharing any n-gram with the benchmark (stateless
        broadcast-set filter; works on batch and streaming frames)."""
        from .functions import training

        bdf = benchmark.df if isinstance(benchmark, SemanticFrame) else benchmark
        return self._next(
            training.decontaminate(self.df, bdf, **kw), "decontaminate", **kw
        )

    def sample_temperature(self, group_col: str, *, temperature: float, **kw) -> "SemanticFrame":
        from .functions import training

        return self._next(
            training.sample_temperature(self.df, group_col, temperature=temperature, **kw),
            "sample_temperature", group_col=group_col, temperature=temperature, **kw,
        )

    def sample_mixture(self, group_col: str, target_weights: dict, *, weight_col: str | None = None, id_cols: list | None = None, seed: str = "mixplan") -> "SemanticFrame":
        """Explicit-weight mixture sample: plan per-group rates hitting
        ``target_weights`` without upsampling (scarcest source binds),
        then keep rows by deterministic md5-draw Bernoulli."""
        from .functions import training

        # persist: the plan's group aggregation and the apply filter both
        # scan the input — unpersisted, an upstream LLM stage would pay
        # every model call twice (same hazard sample_temperature guards;
        # release handle rides on the result, unpersist when materialized)
        src = self.df.persist()
        plan = training.mixture_plan(src, group_col, target_weights, weight_col=weight_col)
        out = training.apply_mixture(src, plan, group_col, id_cols=id_cols, seed=seed)
        out._docetl_cached_input = src
        return self._next(
            out,
            "sample_mixture", group_col=group_col, target_weights=dict(target_weights),
            weight_col=weight_col, id_cols=id_cols, seed=seed,
        )

    def sample_unimax(
        self, group_col: str, *, budget: float, max_epochs: float = 1.0,
        weight_col: str | None = None, id_cols: list | None = None, seed: str = "unimax",
    ) -> "SemanticFrame":
        """UniMax epoch-capped uniform sampling (Chung et al. 2023):
        spread ``budget`` uniformly across groups, cap every group at
        ``max_epochs`` repetitions, water-fill the freed budget; rows
        emit floor(epochs) copies plus a deterministic fractional one
        (upsampling included, unlike sample_mixture)."""
        from .functions import training

        src = self.df.persist()  # same double-scan hazard as sample_mixture
        plan = training.unimax_plan(
            src, group_col, budget=budget, max_epochs=max_epochs, weight_col=weight_col
        )
        out = training.apply_unimax(src, plan, group_col, id_cols=id_cols, seed=seed)
        out._docetl_cached_input = src
        return self._next(
            out,
            "sample_unimax", group_col=group_col, budget=budget, max_epochs=max_epochs,
            weight_col=weight_col, id_cols=id_cols, seed=seed,
        )

    def select_top_frac(self, score_col: str, frac: float, *, by: list[str] | None = None,
                        tiebreak: list[str] | None = None, higher_is_better: bool = True) -> "SemanticFrame":
        """Per-group exact percent-rank quality cut (CCNet-style keep
        the best ``frac`` per language/domain)."""
        from .functions import training

        return self._next(
            training.select_top_frac(
                self.df, score_col, frac, by=by, tiebreak=tiebreak,
                higher_is_better=higher_is_better,
            ),
            "select_top_frac", score_col=score_col, frac=frac, by=by,
            tiebreak=tiebreak, higher_is_better=higher_is_better,
        )

    def cap_per_group(self, group_cols: list[str], n: int, *, order: list) -> "SemanticFrame":
        """Keep at most n rows per group, best-first by ``order`` (the
        RefinedWeb/C4 anti-spam host cap); order must be a deterministic
        total order."""
        from .functions import training

        # Column-object order entries aren't YAML-serializable; record
        # names when possible, a marker otherwise (the shard_expr pattern)
        order_conf = (
            [c for c in order] if all(isinstance(c, str) for c in order) else "_columns"
        )
        return self._next(
            training.cap_per_group(self.df, group_cols, n, order=order),
            "cap_per_group", group_cols=list(group_cols), n=n, order=order_conf,
        )

    def dsir_select(self, target: "SemanticFrame | DataFrame", text_col: str, *, id_col: str, k: int, **kw) -> "SemanticFrame":
        """DSIR importance resampling: keep the k most target-like docs
        (hashed-unigram log-likelihood-ratio weights, deterministic
        Gumbel-top-k)."""
        from .functions import training

        tdf = target.df if isinstance(target, SemanticFrame) else target
        return self._next(
            training.dsir_select(self.df, tdf, text_col, id_col=id_col, k=k, **kw),
            "dsir_select", text_col=text_col, id_col=id_col, k=k, **kw,
        )

    def term_stats(self, text_col: str, *, id_col: str, top_n: int | None = None) -> "SemanticFrame":
        """Corpus vocabulary diagnostics: per-term tf + df (optionally
        top-n by tf)."""
        from .functions import text as text_fn

        return self._next(
            text_fn.term_stats(self.df, text_col, id_col=id_col, top_n=top_n),
            "term_stats", text_col=text_col, id_col=id_col, top_n=top_n,
        )

    def shard_manifest(self, *, id_col: str, **kw) -> "SemanticFrame":
        """Deterministic hash-shard assignment + per-shard manifest."""
        from .functions import training

        return self._next(
            training.shard_manifest(self.df, id_col=id_col, **kw),
            "shard_manifest", id_col=id_col, **kw,
        )

    def lm_score(self, *, text_col: str, id_col: str, **kw) -> "SemanticFrame":
        """Perplexity-proxy LM scoring (hashed-bigram add-1 model);
        appends nothing — returns (id_col, lm_nll)."""
        from .functions import training

        model = kw.pop("model_corpus", None)
        mdf = model.df if isinstance(model, SemanticFrame) else model
        return self._next(
            training.lm_score(self.df, text_col=text_col, id_col=id_col, model_corpus=mdf, **kw),
            "lm_score", text_col=text_col, id_col=id_col, **kw,
        )

    def assign_splits(self, *, id_cols: list, **kw) -> "SemanticFrame":
        """Deterministic train/val/test split column by md5 draw."""
        from .functions import training

        return self._next(
            training.assign_splits(self.df, id_cols=id_cols, **kw),
            "assign_splits", id_cols=id_cols, **kw,
        )

    def embed(self, keys: list[str], *, out_col: str = "embedding") -> "SemanticFrame":
        """Materialize an embedding column from ``keys`` via the frame's
        backend (Arrow-batched; input widened to cluster parallelism).
        Feed it to near-dup / ANN / outlier sampling / clustering."""
        from .operators.resolve import embed_column

        be = self._require_backend("embed")
        return self._next(
            embed_column(self.df, keys, be, out_col=out_col),
            "embed", keys=keys, out_col=out_col,
        )

    def asof_join(self, right: "SemanticFrame | DataFrame", *, on: list[str], left_ts: str,
                  right_ts: str, right_cols: list[str], **kw) -> "SemanticFrame":
        """Nearest-timestamp join per key (union+window plan, no join
        operator) — see functions/timeseries.asof_join."""
        from .functions import timeseries as tsf

        rdf = right.df if isinstance(right, SemanticFrame) else right
        kw = {"on": on, "left_ts": left_ts, "right_ts": right_ts, "right_cols": right_cols, **kw}
        return self._next(tsf.asof_join(self.df, rdf, **kw), "asof_join", **kw)

    def range_join(self, intervals: "SemanticFrame | DataFrame", *, point_ts: str,
                   start_ts: str, end_ts: str, **kw) -> "SemanticFrame":
        """Interval-containment join via time binning (equi-join plan,
        no theta join) — see functions/timeseries.range_join."""
        from .functions import timeseries as tsf

        idf = intervals.df if isinstance(intervals, SemanticFrame) else intervals
        kw = {"point_ts": point_ts, "start_ts": start_ts, "end_ts": end_ts, **kw}
        return self._next(tsf.range_join(self.df, idf, **kw), "range_join", **kw)

    def time_rollup(self, ts_col: str, aggs: dict, **kw) -> "SemanticFrame":
        """Multi-resolution rollup in one pass (ROLLUP grouping sets).
        ``aggs`` holds Column expressions — not YAML-serializable."""
        from .functions import timeseries as tsf

        return self._next(
            tsf.time_rollup(self.df, ts_col, aggs, **kw),
            "time_rollup", ts_col=ts_col, _aggs=True, **kw,
        )

    def hopping_rollup(self, aggs: dict, *, ts_col: str, every_ns: int, size_ns: int,
                       **kw) -> "SemanticFrame":
        """Hopping/sliding window aggregation (exact integer-ns starts)
        — see functions/timeseries.hopping_rollup. ``aggs`` holds Column
        expressions — not YAML-serializable."""
        from .functions import timeseries as tsf

        kw = {"ts_col": ts_col, "every_ns": every_ns, "size_ns": size_ns, **kw}
        return self._next(
            tsf.hopping_rollup(self.df, aggs, **kw),
            "hopping_rollup", _aggs=True, **kw,
        )

    def funnel(self, steps: list[str], **kw) -> "SemanticFrame":
        """Ordered-sequence funnel per entity (chained running-min
        windows, one exchange, no self-joins) — see
        functions/timeseries.funnel."""
        from .functions import timeseries as tsf

        return self._next(tsf.funnel(self.df, steps, **kw), "funnel", steps=list(steps), **kw)

    def sessionize(self, *, keys: list[str], ts_col: str, gap: int, **kw) -> "SemanticFrame":
        """Gap-based session ids per key (one window pass; hot_key_bucket
        two-pass skew plan) — see functions/timeseries.sessionize."""
        from .functions import timeseries as tsf

        return self._next(
            tsf.sessionize(self.df, keys=keys, ts_col=ts_col, gap=gap, **kw),
            "sessionize", keys=list(keys), ts_col=ts_col, gap=gap, **kw,
        )

    def rolling_features(self, ts_col: str, *, keys: list[str],
                         value_aggs: dict | None = None, **kw) -> "SemanticFrame":
        """Per-entity trailing-window features (event index, gap to
        previous, rolling aggregates; hot_key_bucket skew plan) — see
        functions/timeseries.rolling_features. ``value_aggs`` holds
        Column expressions — not YAML-serializable."""
        from .functions import timeseries as tsf

        return self._next(
            tsf.rolling_features(self.df, ts_col, keys=keys,
                                 value_aggs=value_aggs, **kw),
            "rolling_features", ts_col=ts_col, keys=list(keys),
            _aggs=value_aggs is not None, **kw,
        )

    def gap_fill(self, ts_col: str, *, keys: list[str], bucket_width: int,
                 aggs: dict, locf_cols: list[str] | None = None,
                 interp_cols: list[str] | None = None) -> "SemanticFrame":
        """Dense per-key time grid with LOCF / linear gap interpolation
        (TimescaleDB time_bucket_gapfill + locf/interpolate) — see
        functions/timeseries.gap_fill. ``aggs`` holds Column
        expressions — not YAML-serializable."""
        from .functions import timeseries as tsf

        return self._next(
            tsf.gap_fill(self.df, ts_col, keys=keys, bucket_width=bucket_width,
                         aggs=aggs, locf_cols=locf_cols, interp_cols=interp_cols),
            "gap_fill", ts_col=ts_col, keys=list(keys),
            bucket_width=bucket_width, _aggs=True, locf_cols=locf_cols,
            interp_cols=interp_cols,
        )

    def time_weighted_avg(self, ts_col: str, value_col: str, *, keys: list[str],
                          order_cols: list[str] | None = None) -> "SemanticFrame":
        """Trapezoidal time-weighted average per key (exact decimal
        segment sums; integral value_col) — see
        functions/timeseries.time_weighted_avg."""
        from .functions import timeseries as tsf

        return self._next(
            tsf.time_weighted_avg(self.df, ts_col, value_col, keys=keys,
                                  order_cols=order_cols),
            "time_weighted_avg", ts_col=ts_col, value_col=value_col,
            keys=list(keys), order_cols=order_cols,
        )

    def cohort_retention(self, ts_col: str, user_col: str, *, period: int) -> "SemanticFrame":
        """Cohort retention matrix: users cohorted by first-event
        period, cells = active users per offset with retention % — see
        functions/timeseries.cohort_retention."""
        from .functions import timeseries as tsf

        return self._next(
            tsf.cohort_retention(self.df, ts_col, user_col, period=period),
            "cohort_retention", ts_col=ts_col, user_col=user_col, period=period,
        )

    def cooccurrence_stats(self, text_col: str, *, id_col: str, vocab_size: int = 100,
                           top_pairs: int | None = None) -> "SemanticFrame":
        """Term co-occurrence document counts + association lift over
        the top-df vocabulary (vocabulary-capped pair blow-up) — see
        functions/text.cooccurrence_stats."""
        from .functions import text as text_fn

        return self._next(
            text_fn.cooccurrence_stats(self.df, text_col, id_col=id_col,
                                       vocab_size=vocab_size, top_pairs=top_pairs),
            "cooccurrence_stats", text_col=text_col, id_col=id_col,
            vocab_size=vocab_size, top_pairs=top_pairs,
        )

    def skew_profile(self, keys: list[str], *, top: int = 20) -> "SemanticFrame":
        """Top-N heavy keys with exact basis-point shares — the planning
        input for hot_key_bucket/salting — see functions/stats.skew_profile."""
        from .functions import stats

        return self._next(
            stats.skew_profile(self.df, keys, top=top),
            "skew_profile", keys=list(keys), top=top,
        )

    def exact_quantiles(self, value_col: str, ps: list[float], *, by: list[str] | None = None) -> "SemanticFrame":
        """quantile_cont-exact interpolated quantiles without per-group
        value buffering — see functions/stats.exact_quantiles."""
        from .functions import stats

        return self._next(
            stats.exact_quantiles(self.df, value_col, ps, by=by),
            "exact_quantiles", value_col=value_col, ps=list(ps), by=by,
        )

    def approx_quantiles(self, value_col: str, ps: list[float], *,
                         by: list[str] | None = None, accuracy: int = 10_000) -> "SemanticFrame":
        """Sketch-mode quantiles (bounded per-task state at ANY group
        size) — see functions/stats.approx_quantiles."""
        from .functions import stats

        return self._next(
            stats.approx_quantiles(self.df, value_col, ps, by=by, accuracy=accuracy),
            "approx_quantiles", value_col=value_col, ps=list(ps), by=by,
            accuracy=accuracy,
        )

    def snapshot_latest(self, *, keys: list[str], ts_col: str, **kw) -> "SemanticFrame":
        """CDC compaction: latest row per key — see
        functions/timeseries.snapshot_latest."""
        from .functions import timeseries as tsf

        return self._next(
            tsf.snapshot_latest(self.df, keys=keys, ts_col=ts_col, **kw),
            "snapshot_latest", keys=list(keys), ts_col=ts_col, **kw,
        )

    def interval_join(self, right: "SemanticFrame | DataFrame", *, on: list[str],
                      left_start: str, left_end: str, right_start: str,
                      right_end: str, bin_width: int, **kw) -> "SemanticFrame":
        """Interval-overlap equi-join via canonical time bins — see
        functions/timeseries.interval_join."""
        from .functions import timeseries as tsf

        rdf = right.df if isinstance(right, SemanticFrame) else right
        return self._next(
            tsf.interval_join(self.df, rdf, on=on, left_start=left_start,
                              left_end=left_end, right_start=right_start,
                              right_end=right_end, bin_width=bin_width, **kw),
            "interval_join", on=list(on), left_start=left_start,
            left_end=left_end, right_start=right_start, right_end=right_end,
            bin_width=bin_width, **kw,
        )

    def transitions(self, *, keys: list[str], ts_col: str, state_col: str,
                    **kw) -> "SemanticFrame":
        """First-order state-transition counts (Markov matrix) — see
        functions/timeseries.transitions."""
        from .functions import timeseries as tsf

        return self._next(
            tsf.transitions(self.df, keys=keys, ts_col=ts_col,
                            state_col=state_col, **kw),
            "transitions", keys=list(keys), ts_col=ts_col,
            state_col=state_col, **kw,
        )

    def quantile_buckets(self, value_col: str, n: int, *, by: list[str] | None = None,
                         **kw) -> "SemanticFrame":
        """Equal-count NTILE buckets (distributed-rank global path) —
        see functions/stats.quantile_buckets."""
        from .functions import stats

        return self._next(
            stats.quantile_buckets(self.df, value_col, n, by=by, **kw),
            "quantile_buckets", value_col=value_col, n=n, by=by, **kw,
        )

    def salted_join(self, right: "SemanticFrame | DataFrame", on: list[str], *,
                    salt: int, how: str = "inner") -> "SemanticFrame":
        """Result-identical skew-salted equi-join — see
        functions/joins.salted_join."""
        from .functions.joins import salted_join as _sj

        rdf = right.df if isinstance(right, SemanticFrame) else right
        return self._next(
            _sj(self.df, rdf, on, salt=salt, how=how),
            "salted_join", on=list(on), salt=salt, how=how,
        )

    def readability(self, text_col: str, *, out_col: str = "readability") -> "SemanticFrame":
        """Attach Flesch reading-ease signals as a struct column — see
        functions/text.readability."""
        from .functions import text as text_fn

        return self._next(
            self.df.withColumn(out_col, text_fn.readability(F.col(text_col))),
            "readability", text_col=text_col, out_col=out_col,
        )

    def ngram_stats(self, text_col: str, *, id_col: str, n: int = 2,
                    top_n: int | None = None) -> "SemanticFrame":
        """Corpus n-gram frequency table — see functions/text.ngram_stats."""
        from .functions import text as text_fn

        return self._next(
            text_fn.ngram_stats(self.df, text_col, id_col=id_col, n=n, top_n=top_n),
            "ngram_stats", text_col=text_col, id_col=id_col, n=n, top_n=top_n,
        )

    def changelog_to_scd2(self, *, keys: list[str], ts_col: str,
                          attrs: list[str], **kw) -> "SemanticFrame":
        """Change log -> SCD2 validity intervals (valid_from/valid_to/
        is_current, compressed change points) — see
        functions/timeseries.changelog_to_scd2."""
        from .functions import timeseries as tsf

        return self._next(
            tsf.changelog_to_scd2(self.df, keys=keys, ts_col=ts_col,
                                  attrs=attrs, **kw),
            "changelog_to_scd2", keys=list(keys), ts_col=ts_col,
            attrs=list(attrs), **kw,
        )

    def winsorize(self, value_col: str, *, by: list[str] | None = None,
                  **kw) -> "SemanticFrame":
        """Quantile-clip a numeric column at exact per-group bounds —
        see functions/stats.winsorize."""
        from .functions import stats

        return self._next(
            stats.winsorize(self.df, value_col, by=by, **kw),
            "winsorize", value_col=value_col, by=by, **kw,
        )

    def ewma(self, ts_col: str, value_col: str, *, keys: list[str],
             alpha: float, **kw) -> "SemanticFrame":
        """Final per-key exponentially-weighted moving average — see
        functions/timeseries.ewma (exact sequential fold; per-key
        history bound documented there)."""
        from .functions import timeseries as tsf

        return self._next(
            tsf.ewma(self.df, ts_col, value_col, keys=keys, alpha=alpha, **kw),
            "ewma", ts_col=ts_col, value_col=value_col, keys=list(keys),
            alpha=alpha, **kw,
        )

    def ewma_bucketed(self, ts_col: str, value_col: str, *, keys: list[str],
                      alpha: float, bucket_width: int, **kw) -> "SemanticFrame":
        """EWMA via affine bucket chaining — the unbounded-history
        escape hatch; see functions/timeseries.ewma_bucketed."""
        from .functions import timeseries as tsf

        return self._next(
            tsf.ewma_bucketed(self.df, ts_col, value_col, keys=keys,
                              alpha=alpha, bucket_width=bucket_width, **kw),
            "ewma_bucketed", ts_col=ts_col, value_col=value_col,
            keys=list(keys), alpha=alpha, bucket_width=bucket_width, **kw,
        )

    def streaks(self, ts_col: str, *, keys: list[str], bucket_width: int, **kw) -> "SemanticFrame":
        """Gaps-and-islands runs of consecutive active buckets per key —
        see functions/timeseries.streaks."""
        from .functions import timeseries as tsf

        return self._next(
            tsf.streaks(self.df, ts_col, keys=keys, bucket_width=bucket_width, **kw),
            "streaks", ts_col=ts_col, keys=list(keys), bucket_width=bucket_width, **kw,
        )

    def attribute_conversions(self, *, conversion_type: str, touch_types: list[str],
                              horizon: int, **kw) -> "SemanticFrame":
        """First/last-touch attribution via the as-of union+window plan —
        see functions/timeseries.attribute_conversions."""
        from .functions import timeseries as tsf

        return self._next(
            tsf.attribute_conversions(
                self.df, conversion_type=conversion_type,
                touch_types=touch_types, horizon=horizon, **kw,
            ),
            "attribute_conversions", conversion_type=conversion_type,
            touch_types=list(touch_types), horizon=horizon, **kw,
        )

    def heavy_hitters(self, value_col: str, *, by: list[str] | None = None,
                      top: int = 5, **kw) -> "SemanticFrame":
        """Top-k most frequent values (+ __other__ rollup) with exact
        basis-point shares — see functions/stats.heavy_hitters."""
        from .functions import stats

        return self._next(
            stats.heavy_hitters(self.df, value_col, by=by, top=top, **kw),
            "heavy_hitters", value_col=value_col, by=by, top=top, **kw,
        )

    def flag_outliers(self, value_col: str, *, by: list[str] | None = None,
                      **kw) -> "SemanticFrame":
        """Exact-arithmetic per-group z-score outlier flags — see
        functions/stats.robust_outliers."""
        from .functions import stats

        return self._next(
            stats.robust_outliers(self.df, value_col, by=by, **kw),
            "flag_outliers", value_col=value_col, by=by, **kw,
        )

    def flag_outliers_mad(self, value_col: str, *, by: list[str] | None = None,
                          **kw) -> "SemanticFrame":
        """Median/MAD robust outlier flags (heavy-tail-safe) — see
        functions/stats.mad_outliers."""
        from .functions import stats

        return self._next(
            stats.mad_outliers(self.df, value_col, by=by, **kw),
            "flag_outliers_mad", value_col=value_col, by=by, **kw,
        )

    def histogram(self, value_col: str, *, bin_width: float,
                  by: list[str] | None = None, **kw) -> "SemanticFrame":
        """Exact fixed-width histogram (one combinable groupBy) — see
        functions/stats.histogram."""
        from .functions import stats

        return self._next(
            stats.histogram(self.df, value_col, bin_width=bin_width, by=by, **kw),
            "histogram", value_col=value_col, bin_width=bin_width, by=by, **kw,
        )

    def weighted_quantiles(self, value_col: str, weight_col: str, *,
                           qs_bp: list[int], by: list[str] | None = None,
                           **kw) -> "SemanticFrame":
        """Exact weighted quantiles (cross-multiplied integer cut) — see
        functions/stats.weighted_quantiles."""
        from .functions import stats

        return self._next(
            stats.weighted_quantiles(self.df, value_col, weight_col,
                                     qs_bp=qs_bp, by=by, **kw),
            "weighted_quantiles", value_col=value_col, weight_col=weight_col,
            qs_bp=list(qs_bp), by=by, **kw,
        )

    def trend_fit(self, x_col: str, y_col: str, *,
                  by: list[str] | None = None, **kw) -> "SemanticFrame":
        """Per-group OLS slope in exact integer math — see
        functions/stats.trend_fit."""
        from .functions import stats

        return self._next(
            stats.trend_fit(self.df, x_col, y_col, by=by, **kw),
            "trend_fit", x_col=x_col, y_col=y_col, by=by, **kw,
        )

    def benford_profile(self, value_col: str, *,
                        by: list[str] | None = None, **kw) -> "SemanticFrame":
        """Benford leading-digit screen (fixed-point-string digits) —
        see functions/stats.benford_profile."""
        from .functions import stats

        return self._next(
            stats.benford_profile(self.df, value_col, by=by, **kw),
            "benford_profile", value_col=value_col, by=by, **kw,
        )

    def running_totals(self, value_col: str, *, keys: list[str],
                       order_by: list[str], **kw) -> "SemanticFrame":
        """Per-key cumulative sum + exact cumulative share — see
        functions/stats.running_totals."""
        from .functions import stats

        return self._next(
            stats.running_totals(self.df, value_col, keys=keys,
                                 order_by=order_by, **kw),
            "running_totals", value_col=value_col, keys=list(keys),
            order_by=list(order_by), **kw,
        )

    def diff_against(self, new: "SemanticFrame | DataFrame", keys: list[str],
                     **kw) -> "SemanticFrame":
        """Row-level reconciliation vs a newer snapshot (added/removed/
        changed + changed column list) — see functions/joins.data_diff;
        self is the OLD side."""
        from .functions import joins

        other = new.df if hasattr(new, "df") else new
        return self._next(
            joins.data_diff(self.df, other, keys, **kw),
            "diff_against", keys=list(keys), **kw,
        )

    def group_concat(self, group_cols: list[str], value_col: str,
                     **kw) -> "SemanticFrame":
        """Per-group sorted string concatenation — see
        operators/shape.group_concat."""
        from .operators import shape

        return self._next(
            shape.group_concat(self.df, group_cols, value_col, **kw),
            "group_concat", group_cols=list(group_cols), value_col=value_col, **kw,
        )

    def time_profile(self, ts_col: str, *, by: list[str] | None = None,
                     **kw) -> "SemanticFrame":
        """Day-of-week × hour-of-day activity grid — see
        functions/timeseries.time_profile."""
        from .functions import timeseries as tsf

        return self._next(
            tsf.time_profile(self.df, ts_col, by=by, **kw),
            "time_profile", ts_col=ts_col, by=by, **kw,
        )

    def profile_columns(self, columns: list[str] | None = None) -> "SemanticFrame":
        """Per-column n/null/distinct profile (one Expand-strategy
        aggregation) — see functions/dq.profile_columns."""
        from .functions import dq

        return self._next(
            dq.profile_columns(self.df, columns),
            "profile_columns", columns=list(columns) if columns else None,
        )

    def check_constraints(self, constraints: dict[str, str]) -> "SemanticFrame":
        """Declarative invariant gate (one combinable aggregation) —
        see functions/dq.check_constraints."""
        from .functions import dq

        return self._next(
            dq.check_constraints(self.df, constraints),
            "check_constraints", constraints=dict(constraints),
        )

    def fk_violations(self, parent: "SemanticFrame | DataFrame",
                      on: list[str] | dict[str, str]) -> "SemanticFrame":
        """Orphan rows vs a parent table (one LEFT ANTI join) — see
        functions/dq.fk_violations."""
        from .functions import dq

        p = parent.df if hasattr(parent, "df") else parent
        return self._next(
            dq.fk_violations(self.df, p, on),
            "fk_violations", on=on if isinstance(on, list) else dict(on),
        )

    def sample_pps(self, weight_col: str, n: int, *, order_by: list[str],
                   **kw) -> "SemanticFrame":
        """Deterministic systematic PPS sampling (exact integer
        boundary crossings) — see functions/training.sample_pps."""
        from .functions import training

        return self._next(
            training.sample_pps(self.df, weight_col, n, order_by=order_by, **kw),
            "sample_pps", weight_col=weight_col, n=n, order_by=list(order_by), **kw,
        )

    def percentile_normalize(self, value_col: str, *, by: list[str] | None = None,
                             **kw) -> "SemanticFrame":
        """Within-group percentile rank as exact integer basis points —
        see functions/training.percentile_normalize."""
        from .functions import training

        return self._next(
            training.percentile_normalize(self.df, value_col, by=by, **kw),
            "percentile_normalize", value_col=value_col, by=by, **kw,
        )

    def merge_rollup(self, delta: "SemanticFrame | DataFrame", keys: list[str],
                     aggs: dict) -> "SemanticFrame":
        """Incremental aggregate maintenance: fold raw delta rows into
        this per-key aggregate state — see
        functions/timeseries.merge_rollup (self is the BASE state)."""
        from .functions import timeseries as tsf

        d = delta.df if hasattr(delta, "df") else delta
        return self._next(
            tsf.merge_rollup(self.df, d, keys, aggs),
            "merge_rollup", keys=list(keys), aggs=dict(aggs),
        )

    def rollup_state(self, keys: list[str], aggs: dict) -> "SemanticFrame":
        """Mergeable per-key aggregate state (sum/count/min/max) — see
        functions/timeseries.rollup_state."""
        from .functions import timeseries as tsf

        return self._next(
            tsf.rollup_state(self.df, keys, aggs),
            "rollup_state", keys=list(keys), aggs=dict(aggs),
        )

    def active_users_approx(self, ts_col: str, *, user_col: str, **kw) -> "SemanticFrame":
        """HLL-sketch rolling active users (day-count-sized beyond the
        per-day pass) — see functions/timeseries.active_users_approx."""
        from .functions import timeseries as tsf

        return self._next(
            tsf.active_users_approx(self.df, ts_col, user_col=user_col, **kw),
            "active_users_approx", ts_col=ts_col, user_col=user_col, **kw,
        )

    def debounce(self, *, keys: list[str], ts_col: str, min_gap_ns: int,
                 **kw) -> "SemanticFrame":
        """Gap-based per-key event deduplication (leading edge) — see
        functions/timeseries.debounce."""
        from .functions import timeseries as tsf

        return self._next(
            tsf.debounce(self.df, keys=keys, ts_col=ts_col,
                         min_gap_ns=min_gap_ns, **kw),
            "debounce", keys=list(keys), ts_col=ts_col,
            min_gap_ns=min_gap_ns, **kw,
        )

    def throttle(self, *, keys: list[str], ts_col: str, window_ns: int,
                 max_per_window: int, **kw) -> "SemanticFrame":
        """Deterministic per-key rate-limit sampling — see
        functions/timeseries.throttle."""
        from .functions import timeseries as tsf

        return self._next(
            tsf.throttle(self.df, keys=keys, ts_col=ts_col,
                         window_ns=window_ns, max_per_window=max_per_window, **kw),
            "throttle", keys=list(keys), ts_col=ts_col,
            window_ns=window_ns, max_per_window=max_per_window, **kw,
        )

    def apply_cdc(self, changes: "SemanticFrame | DataFrame", *, keys: list[str],
                  ts_col: str, **kw) -> "SemanticFrame":
        """MERGE-INTO: fold a CDC changelog into this snapshot — see
        functions/timeseries.apply_cdc (self is the BASE snapshot)."""
        from .functions import timeseries as tsf

        ch = changes.df if hasattr(changes, "df") else changes
        return self._next(
            tsf.apply_cdc(self.df, ch, keys=keys, ts_col=ts_col, **kw),
            "apply_cdc", keys=list(keys), ts_col=ts_col, **kw,
        )

    def collapse_rare(self, col: str, **kw) -> "SemanticFrame":
        """Rare-category collapse to __other__ — see
        functions/stats.collapse_rare."""
        from .functions import stats

        return self._next(
            stats.collapse_rare(self.df, col, **kw), "collapse_rare", col=col, **kw,
        )

    def target_encode_loo(self, category_col: str, target_col: str, **kw) -> "SemanticFrame":
        """Leave-one-out target encoding in exact integer milli-units —
        see functions/stats.target_encode_loo."""
        from .functions import stats

        return self._next(
            stats.target_encode_loo(self.df, category_col, target_col, **kw),
            "target_encode_loo", category_col=category_col, target_col=target_col, **kw,
        )

    def ab_test_summary(self, variant_col: str, success_col: str, **kw) -> "SemanticFrame":
        """Exact-integer two-proportion experiment scorecard — see
        functions/stats.ab_test_summary."""
        from .functions import stats

        return self._next(
            stats.ab_test_summary(self.df, variant_col, success_col, **kw),
            "ab_test_summary", variant_col=variant_col, success_col=success_col, **kw,
        )

    def cohort_values(self, *, entity_col: str, ts_col: str, value_col: str,
                      width_ns: int, **kw) -> "SemanticFrame":
        """Cohort LTV table (first-seen cohorts, cumulative value) — see
        functions/timeseries.cohort_values."""
        from .functions import timeseries as tsf

        return self._next(
            tsf.cohort_values(self.df, entity_col=entity_col, ts_col=ts_col,
                              value_col=value_col, width_ns=width_ns, **kw),
            "cohort_values", entity_col=entity_col, ts_col=ts_col,
            value_col=value_col, width_ns=width_ns, **kw,
        )

    def decade_histogram(self, value_col: str, *, by: list[str] | None = None,
                         **kw) -> "SemanticFrame":
        """Order-of-magnitude histogram (digit-count buckets) — see
        functions/stats.decade_histogram."""
        from .functions import stats

        return self._next(
            stats.decade_histogram(self.df, value_col, by=by, **kw),
            "decade_histogram", value_col=value_col, by=by, **kw,
        )

    def seasonal_outliers(self, value_col: str, ts_col: str, *,
                          by: list[str] | None = None, **kw) -> "SemanticFrame":
        """Exact-z outliers per (by, dow, hod) seasonal cell — see
        functions/stats.seasonal_outliers."""
        from .functions import stats

        return self._next(
            stats.seasonal_outliers(self.df, value_col, ts_col, by=by, **kw),
            "seasonal_outliers", value_col=value_col, ts_col=ts_col, by=by, **kw,
        )

    def pair_metrics(self, truth: "SemanticFrame | DataFrame", **kw) -> "SemanticFrame":
        """Score this frame's (id_a, id_b) pairs against labeled truth —
        see functions/stats.pair_metrics."""
        from .functions import stats

        t = truth.df if isinstance(truth, SemanticFrame) else truth
        return self._next(
            stats.pair_metrics(self.df, t, **kw), "pair_metrics", **kw,
        )

    def gini(self, value_col: str, *, by: list[str] | None = None,
             **kw) -> "SemanticFrame":
        """Exact Gini concentration in basis points — see
        functions/stats.gini_bp."""
        from .functions import stats

        return self._next(
            stats.gini_bp(self.df, value_col, by=by, **kw),
            "gini", value_col=value_col, by=by, **kw,
        )

    def skyline(self, x_col: str, y_col: str, *, by: list[str] | None = None,
                **kw) -> "SemanticFrame":
        """Per-group 2-D Pareto frontier (sort-scan window) — see
        functions/stats.skyline_2d."""
        from .functions import stats

        return self._next(
            stats.skyline_2d(self.df, x_col, y_col, by=by, **kw),
            "skyline", x_col=x_col, y_col=y_col, by=by, **kw,
        )

    def period_over_period(self, ts_col: str, value_col: str, *,
                           width_ns: int, by: list[str] | None = None,
                           **kw) -> "SemanticFrame":
        """Period-over-period fixed-point comparison with adjacency-
        guarded previous period — see
        functions/timeseries.period_over_period."""
        from .functions import timeseries as tsf

        return self._next(
            tsf.period_over_period(self.df, ts_col, value_col,
                                   width_ns=width_ns, by=by, **kw),
            "period_over_period", ts_col=ts_col, value_col=value_col,
            width_ns=width_ns, by=by, **kw,
        )

    def basket_pairs(self, basket_col: str, item_col: str, **kw) -> "SemanticFrame":
        """Market-basket pair mining (support/confidence/lift in exact
        integer fixed point) — see functions/stats.basket_pairs."""
        from .functions import stats

        return self._next(
            stats.basket_pairs(self.df, basket_col, item_col, **kw),
            "basket_pairs", basket_col=basket_col, item_col=item_col, **kw,
        )

    def audience_overlap(self, entity_col: str, group_col: str, **kw) -> "SemanticFrame":
        """Segment-overlap matrix with exact Jaccard bp — see
        functions/stats.audience_overlap."""
        from .functions import stats

        return self._next(
            stats.audience_overlap(self.df, entity_col, group_col, **kw),
            "audience_overlap", entity_col=entity_col, group_col=group_col, **kw,
        )

    def rfm_segments(self, *, keys: list[str], ts_col: str, amount_col: str,
                     **kw) -> "SemanticFrame":
        """RFM segmentation via the distributed NTILE formulation — see
        functions/stats.rfm_segments."""
        from .functions import stats

        return self._next(
            stats.rfm_segments(self.df, keys=keys, ts_col=ts_col,
                               amount_col=amount_col, **kw),
            "rfm_segments", keys=list(keys), ts_col=ts_col,
            amount_col=amount_col, **kw,
        )

    def edit_distance_pairs(self, id_col: str, text_col: str, **kw) -> "SemanticFrame":
        """Affix-blocked Levenshtein matcher — see
        functions/dedup.edit_distance_pairs."""
        from .functions import dedup as ddp

        return self._next(
            ddp.edit_distance_pairs(self.df, id_col, text_col, **kw),
            "edit_distance_pairs", id_col=id_col, text_col=text_col, **kw,
        )

    def interval_union(self, *, keys: list[str], start_col: str,
                       end_col: str, **kw) -> "SemanticFrame":
        """Merged-interval coverage per key — see
        functions/timeseries.interval_union."""
        from .functions import timeseries as tsf

        return self._next(
            tsf.interval_union(self.df, keys=keys, start_col=start_col,
                               end_col=end_col, **kw),
            "interval_union", keys=list(keys), start_col=start_col,
            end_col=end_col, **kw,
        )

    def session_paths(self, *, session_keys: list[str], state_col: str,
                      ts_col: str, **kw) -> "SemanticFrame":
        """Top-k session path prefixes — see
        functions/timeseries.session_paths."""
        from .functions import timeseries as tsf

        return self._next(
            tsf.session_paths(self.df, session_keys=session_keys,
                              state_col=state_col, ts_col=ts_col, **kw),
            "session_paths", session_keys=list(session_keys),
            state_col=state_col, ts_col=ts_col, **kw,
        )

    def autocorr_lag(self, value_col: str, *, keys: list[str], ts_col: str,
                     **kw) -> "SemanticFrame":
        """Per-key lag-k AR coefficient in exact integer math — see
        functions/timeseries.autocorr_lag."""
        from .functions import timeseries as tsf

        return self._next(
            tsf.autocorr_lag(self.df, value_col, keys=keys, ts_col=ts_col, **kw),
            "autocorr_lag", value_col=value_col, keys=list(keys),
            ts_col=ts_col, **kw,
        )

    def null_runs(self, value_col: str, *, keys: list[str], ts_col: str,
                  **kw) -> "SemanticFrame":
        """Consecutive-NULL-run report per key — see
        functions/timeseries.null_runs."""
        from .functions import timeseries as tsf

        return self._next(
            tsf.null_runs(self.df, value_col, keys=keys, ts_col=ts_col, **kw),
            "null_runs", value_col=value_col, keys=list(keys), ts_col=ts_col, **kw,
        )

    def changepoint_cusum(self, value_col: str, *, keys: list[str],
                          ts_col: str, threshold: float, **kw) -> "SemanticFrame":
        """Upward CUSUM level-shift detector — see
        functions/timeseries.changepoint_cusum."""
        from .functions import timeseries as tsf

        return self._next(
            tsf.changepoint_cusum(self.df, value_col, keys=keys, ts_col=ts_col,
                                  threshold=threshold, **kw),
            "changepoint_cusum", value_col=value_col, keys=list(keys),
            ts_col=ts_col, threshold=threshold, **kw,
        )

    def state_durations(self, *, keys: list[str], ts_col: str, state_col: str,
                        **kw) -> "SemanticFrame":
        """Total time-in-state per key (LEAD-closed intervals) — see
        functions/timeseries.state_durations."""
        from .functions import timeseries as tsf

        return self._next(
            tsf.state_durations(self.df, keys=keys, ts_col=ts_col,
                                state_col=state_col, **kw),
            "state_durations", keys=list(keys), ts_col=ts_col,
            state_col=state_col, **kw,
        )

    def active_users(self, ts_col: str, *, user_col: str, **kw) -> "SemanticFrame":
        """Exact rolling DAU/WAU/MAU over observed days — see
        functions/timeseries.active_users."""
        from .functions import timeseries as tsf

        return self._next(
            tsf.active_users(self.df, ts_col, user_col=user_col, **kw),
            "active_users", ts_col=ts_col, user_col=user_col, **kw,
        )

    def melt(self, id_cols: list[str], value_cols: list[str], **kw) -> "SemanticFrame":
        """Wide-to-long unpivot (Spark Expand node, no shuffle) — see
        operators/shape.melt."""
        from .operators import shape

        return self._next(
            shape.melt(self.df, id_cols, value_cols, **kw),
            "melt", id_cols=list(id_cols), value_cols=list(value_cols), **kw,
        )

    def json_extract(self, json_col: str, fields: dict[str, str], **kw) -> "SemanticFrame":
        """Typed columns out of a JSON-string column (get_json_object
        chains; malformed rows yield NULL) — see
        operators/shape.json_extract_columns."""
        from .operators import shape

        return self._next(
            shape.json_extract_columns(self.df, json_col, fields, **kw),
            "json_extract", json_col=json_col, fields=dict(fields), **kw,
        )

    def keywords(self, text_col: str, *, id_col: str, top: int = 5) -> "SemanticFrame":
        """Per-document top-k distinctive terms by the exact-integer
        tf-idf surrogate — see functions/text.tfdf_keywords."""
        from .functions import text as text_fn

        return self._next(
            text_fn.tfdf_keywords(self.df, text_col, id_col=id_col, top=top),
            "keywords", text_col=text_col, id_col=id_col, top=top,
        )

    def split_exact(self, *, id_cols: list[str], weights: dict[str, int] | None = None,
                    strata: list[str] | None = None, salt: str = "split") -> "SemanticFrame":
        """Exact-quota stratified train/val/test assignment
        (cumulative-floor integer quotas) — see
        functions/training.assign_splits_exact."""
        from .functions import training

        return self._next(
            training.assign_splits_exact(
                self.df, id_cols=id_cols, weights=weights, strata=strata, salt=salt,
            ),
            "split_exact", id_cols=list(id_cols), weights=weights, strata=strata, salt=salt,
        )

    def bm25_topk(self, queries: "SemanticFrame | DataFrame", k: int = 10, **kw) -> "SemanticFrame":
        """Lexical BM25 top-k retrieval against this frame as the corpus
        — see retrievers.bm25_topk."""
        from . import retrievers

        qdf = queries.df if isinstance(queries, SemanticFrame) else queries
        return self._next(
            retrievers.bm25_topk(self.df, qdf, k, **kw), "bm25_topk", k=k, **kw
        )

    def quality_model(self, weights: dict, *, text_col: str, id_col: str, **kw) -> "SemanticFrame":
        """Score docs with a fitted (or injected) hashed-feature linear
        quality classifier — see functions/quality_model.py for the
        distributed fit."""
        from .functions import quality_model as qm

        return self._next(
            qm.score_quality(self.df, weights, text_col=text_col, id_col=id_col, **kw),
            "quality_model", text_col=text_col, id_col=id_col,
            weights={int(k): float(v) for k, v in weights.items()}, **kw,
        )

    def auc(self, score_col: str, label_col: str, *,
            by: list[str] | None = None) -> "SemanticFrame":
        """Exact ROC-AUC (Mann-Whitney midranks) in integer bp — see
        functions/stats.auc_rank."""
        from .functions import stats

        return self._next(
            stats.auc_rank(self.df, score_col, label_col, by=by),
            "auc", score_col=score_col, label_col=label_col, by=by,
        )

    def chi_square(self, col_a: str, col_b: str, *,
                   by: list[str] | None = None) -> "SemanticFrame":
        """Chi-square independence statistic in integer bp — see
        functions/stats.chi_square_bp."""
        from .functions import stats

        return self._next(
            stats.chi_square_bp(self.df, col_a, col_b, by=by),
            "chi_square", col_a=col_a, col_b=col_b, by=by,
        )

    def ks_test(self, value_col: str, group_col: str, *, group_a, group_b,
                by: list[str] | None = None) -> "SemanticFrame":
        """Two-sample Kolmogorov-Smirnov statistic, exact integer
        formulation — see functions/stats.ks_statistic."""
        from .functions import stats

        return self._next(
            stats.ks_statistic(self.df, value_col, group_col,
                               group_a=group_a, group_b=group_b, by=by),
            "ks_test", value_col=value_col, group_col=group_col,
            group_a=group_a, group_b=group_b, by=by,
        )

    def concentration(self, value_col: str, entity_col: str, *,
                      by: list[str] | None = None, **kw) -> "SemanticFrame":
        """Herfindahl-Hirschman concentration + top share in bp — see
        functions/stats.concentration_hhi."""
        from .functions import stats

        return self._next(
            stats.concentration_hhi(self.df, value_col, entity_col, by=by, **kw),
            "concentration", value_col=value_col, entity_col=entity_col,
            by=by, **kw,
        )

    def diversity(self, category_col: str, *,
                  by: list[str] | None = None) -> "SemanticFrame":
        """Unbiased Simpson diversity in bp — see
        functions/stats.diversity_simpson."""
        from .functions import stats

        return self._next(
            stats.diversity_simpson(self.df, category_col, by=by),
            "diversity", category_col=category_col, by=by,
        )

    def mode(self, value_col: str, *,
             by: list[str] | None = None) -> "SemanticFrame":
        """Deterministic per-group mode with count and bp share — see
        functions/stats.mode_by."""
        from .functions import stats

        return self._next(
            stats.mode_by(self.df, value_col, by=by),
            "mode", value_col=value_col, by=by,
        )

    def lift_table(self, score_col: str, label_col: str, **kw) -> "SemanticFrame":
        """Decile lift table (exact bp figures, distributed global
        NTILE) — see functions/stats.lift_table."""
        from .functions import stats

        return self._next(
            stats.lift_table(self.df, score_col, label_col, **kw),
            "lift_table", score_col=score_col, label_col=label_col, **kw,
        )

    def vocab_profile(self, text_col: str, *, id_col: str,
                      by: list[str] | None = None) -> "SemanticFrame":
        """Lexical-richness profile (tokens/types/hapax, TTR bp) — see
        functions/text.vocab_profile."""
        from .functions import text as textf

        return self._next(
            textf.vocab_profile(self.df, text_col, id_col=id_col, by=by),
            "vocab_profile", text_col=text_col, id_col=id_col, by=by,
        )

    def dup_cluster_sizes(self, text_col: str, *,
                          by: list[str] | None = None) -> "SemanticFrame":
        """Exact-duplicate cluster-size distribution (dedup planning
        report) — see functions/dedup.dup_cluster_sizes."""
        from .functions import dedup as dedupf

        return self._next(
            dedupf.dup_cluster_sizes(self.df, text_col, by=by),
            "dup_cluster_sizes", text_col=text_col, by=by,
        )

    def bursts(self, *, keys: list[str], ts_col: str,
               window_ns: int) -> "SemanticFrame":
        """Peak sliding-window burst rate per key — see
        functions/timeseries.bursts."""
        from .functions import timeseries as tsf

        return self._next(
            tsf.bursts(self.df, keys=keys, ts_col=ts_col, window_ns=window_ns),
            "bursts", keys=keys, ts_col=ts_col, window_ns=window_ns,
        )

    def transition_probs(self, *, keys: list[str], ts_col: str,
                         state_col: str, **kw) -> "SemanticFrame":
        """Markov transition matrix with integer-bp conditional
        probabilities — see functions/timeseries.transition_probs."""
        from .functions import timeseries as tsf

        return self._next(
            tsf.transition_probs(self.df, keys=keys, ts_col=ts_col,
                                 state_col=state_col, **kw),
            "transition_probs", keys=keys, ts_col=ts_col,
            state_col=state_col, **kw,
        )

    def pareto_coverage(self, value_col: str, entity_col: str,
                        **kw) -> "SemanticFrame":
        """Pareto/ABC coverage: min top-k entities reaching each share
        threshold — see functions/stats.pareto_coverage."""
        from .functions import stats

        return self._next(
            stats.pareto_coverage(self.df, value_col, entity_col, **kw),
            "pareto_coverage", value_col=value_col, entity_col=entity_col, **kw,
        )

    def correlation_r2(self, x_col: str, y_col: str, **kw) -> "SemanticFrame":
        """Exact integer-bp coefficient of determination — see
        functions/stats.correlation_r2."""
        from .functions import stats

        return self._next(
            stats.correlation_r2(self.df, x_col, y_col, **kw),
            "correlation_r2", x_col=x_col, y_col=y_col, **kw,
        )

    def sequence_ngrams(self, *, keys: list[str], ts_col: str,
                        state_col: str, **kw) -> "SemanticFrame":
        """Sequential n-step pattern mining over key streams — see
        functions/timeseries.sequence_ngrams."""
        from .functions import timeseries as tsf

        return self._next(
            tsf.sequence_ngrams(self.df, keys=keys, ts_col=ts_col,
                                state_col=state_col, **kw),
            "sequence_ngrams", keys=keys, ts_col=ts_col,
            state_col=state_col, **kw,
        )

    def zipf_profile(self, text_col: str, *, id_col: str,
                     top_n: int = 50) -> "SemanticFrame":
        """Zipf's-law vocabulary diagnostic — see
        functions/text.zipf_profile."""
        from .functions import text as textf

        return self._next(
            textf.zipf_profile(self.df, text_col, id_col=id_col, top_n=top_n),
            "zipf_profile", text_col=text_col, id_col=id_col, top_n=top_n,
        )

    # -------------------------------------------- round-10 analytics ops
    def spearman(self, x_col: str, y_col: str, *,
                 by: list[str] | None = None) -> "SemanticFrame":
        """Tie-corrected Spearman rank correlation (sign + rho² bp) —
        see functions/mlstats.spearman_by."""
        from .functions import mlstats

        return self._next(
            mlstats.spearman_by(self.df, x_col, y_col, by=by),
            "spearman", x_col=x_col, y_col=y_col, by=by,
        )

    def cramers_v2(self, col_a: str, col_b: str, *,
                   by: list[str] | None = None) -> "SemanticFrame":
        """Cramér's V² categorical association in exact bp — see
        functions/mlstats.cramers_v2."""
        from .functions import mlstats

        return self._next(
            mlstats.cramers_v2(self.df, col_a, col_b, by=by),
            "cramers_v2", col_a=col_a, col_b=col_b, by=by,
        )

    def impurity(self, feature_col: str, label_col: str, *,
                 by: list[str] | None = None) -> "SemanticFrame":
        """Gini impurity decomposition of a label by a feature — see
        functions/mlstats.impurity_by."""
        from .functions import mlstats

        return self._next(
            mlstats.impurity_by(self.df, feature_col, label_col, by=by),
            "impurity", feature_col=feature_col, label_col=label_col, by=by,
        )

    def dist_drift(self, category_col: str, period_col: str, *,
                   base, current, **kw) -> "SemanticFrame":
        """Exact total-variation categorical drift between two period
        labels — see functions/mlstats.dist_drift."""
        from .functions import mlstats

        return self._next(
            mlstats.dist_drift(self.df, category_col, period_col,
                               base=base, current=current, **kw),
            "dist_drift", category_col=category_col, period_col=period_col,
            base=base, current=current, **kw,
        )

    def woe_table(self, feature_col: str, label_col: str, *,
                  by: list[str] | None = None) -> "SemanticFrame":
        """Evidence table with exact odds ratios — see
        functions/mlstats.woe_table."""
        from .functions import mlstats

        return self._next(
            mlstats.woe_table(self.df, feature_col, label_col, by=by),
            "woe_table", feature_col=feature_col, label_col=label_col, by=by,
        )

    def cohen_kappa(self, rater_a: str, rater_b: str, *,
                    by: list[str] | None = None) -> "SemanticFrame":
        """Inter-rater agreement, exact kappa in bp — see
        functions/mlstats.cohen_kappa_by."""
        from .functions import mlstats

        return self._next(
            mlstats.cohen_kappa_by(self.df, rater_a, rater_b, by=by),
            "cohen_kappa", rater_a=rater_a, rater_b=rater_b, by=by,
        )

    def psi(self, category_col: str, period_col: str, *,
            base, current, **kw) -> "SemanticFrame":
        """Population stability index between two period labels
        (bit-stable double via the bm25 decimal discipline) — see
        functions/mlstats.psi_by."""
        from .functions import mlstats

        return self._next(
            mlstats.psi_by(self.df, category_col, period_col,
                           base=base, current=current, **kw),
            "psi", category_col=category_col, period_col=period_col,
            base=base, current=current, **kw,
        )

    def ngram_novelty(self, text_col: str, *, id_col: str,
                      n: int = 3) -> "SemanticFrame":
        """Per-doc share of corpus-first n-grams — see
        functions/text.ngram_novelty."""
        from .functions import text as textf

        return self._next(
            textf.ngram_novelty(self.df, text_col, id_col=id_col, n=n),
            "ngram_novelty", text_col=text_col, id_col=id_col, n=n,
        )

    def trimmed_mean(self, value_col: str, *, by: list[str],
                     **kw) -> "SemanticFrame":
        """Per-group trimmed mean in fixed-point cents — see
        functions/mlstats.trimmed_mean_by."""
        from .functions import mlstats

        return self._next(
            mlstats.trimmed_mean_by(self.df, value_col, by=by, **kw),
            "trimmed_mean", value_col=value_col, by=by, **kw,
        )

    def mann_kendall(self, ts_col: str, value_col: str, *, by: list[str],
                     **kw) -> "SemanticFrame":
        """Mann-Kendall exact trend statistic over time pairs — see
        functions/mlstats.mann_kendall_by."""
        from .functions import mlstats

        return self._next(
            mlstats.mann_kendall_by(self.df, ts_col, value_col, by=by, **kw),
            "mann_kendall", ts_col=ts_col, value_col=value_col, by=by, **kw,
        )

    def kendall_tau(self, x_col: str, y_col: str, *, by: list[str],
                    **kw) -> "SemanticFrame":
        """Kendall's tau-a with full tie decomposition — see
        functions/mlstats.kendall_tau_by."""
        from .functions import mlstats

        return self._next(
            mlstats.kendall_tau_by(self.df, x_col, y_col, by=by, **kw),
            "kendall_tau", x_col=x_col, y_col=y_col, by=by, **kw,
        )

    def theil_sen(self, ts_col: str, value_col: str, *, by: list[str],
                  **kw) -> "SemanticFrame":
        """Theil-Sen robust slope (exact median pairwise slope) — see
        functions/mlstats.theil_sen_by."""
        from .functions import mlstats

        return self._next(
            mlstats.theil_sen_by(self.df, ts_col, value_col, by=by, **kw),
            "theil_sen", ts_col=ts_col, value_col=value_col, by=by, **kw,
        )

    def kaplan_meier(self, duration_col: str, event_col: str, *,
                     by: list[str] | None = None) -> "SemanticFrame":
        """Kaplan-Meier survival curve (ordered-fold survival) — see
        functions/mlstats.kaplan_meier."""
        from .functions import mlstats

        return self._next(
            mlstats.kaplan_meier(self.df, duration_col, event_col, by=by),
            "kaplan_meier", duration_col=duration_col, event_col=event_col,
            by=by,
        )

    def kruskal_wallis(self, value_col: str, group_col: str, *,
                       by: list[str] | None = None) -> "SemanticFrame":
        """Kruskal-Wallis H (rank one-way ANOVA), exact bp — see
        functions/mlstats.kruskal_wallis_by."""
        from .functions import mlstats

        return self._next(
            mlstats.kruskal_wallis_by(self.df, value_col, group_col, by=by),
            "kruskal_wallis", value_col=value_col, group_col=group_col, by=by,
        )

    def mutual_info(self, a_col: str, b_col: str, *,
                    by: list[str] | None = None, **kw) -> "SemanticFrame":
        """Mutual information (nats) between two categorical columns —
        see functions/mlstats.mutual_info_by."""
        from .functions import mlstats

        return self._next(
            mlstats.mutual_info_by(self.df, a_col, b_col, by=by, **kw),
            "mutual_info", a_col=a_col, b_col=b_col, by=by, **kw,
        )

    def anova_f(self, value_col: str, group_col: str, *,
                by: list[str] | None = None, **kw) -> "SemanticFrame":
        """One-way ANOVA F + eta² in exact bp on fixed-point cents —
        see functions/mlstats.anova_f_by."""
        from .functions import mlstats

        return self._next(
            mlstats.anova_f_by(self.df, value_col, group_col, by=by, **kw),
            "anova_f", value_col=value_col, group_col=group_col, by=by, **kw,
        )

    def bootstrap_ci(self, value_col: str, *, id_col: str,
                     by: list[str] | None = None, **kw) -> "SemanticFrame":
        """Poisson-bootstrap percentile CI for the per-group mean
        (deterministic md5 draws) — see
        functions/mlstats.bootstrap_ci."""
        from .functions import mlstats

        return self._next(
            mlstats.bootstrap_ci(self.df, value_col, id_col=id_col,
                                 by=by, **kw),
            "bootstrap_ci", value_col=value_col, id_col=id_col, by=by, **kw,
        )

    def triangle_count(self, src: str, dst: str) -> "SemanticFrame":
        """Per-node triangles + clustering coefficient (degree-ordered
        orientation, O(m^1.5)) — see functions/graphs.triangle_count."""
        from .functions import graphs

        return self._next(
            graphs.triangle_count(self.df, src, dst),
            "triangle_count", src=src, dst=dst,
        )

    def pagerank(self, src: str, dst: str, **kw) -> "SemanticFrame":
        """Fixed-iteration integer-mass PageRank — see
        functions/graphs.pagerank."""
        from .functions import graphs

        return self._next(
            graphs.pagerank(self.df, src, dst, **kw),
            "pagerank", src=src, dst=dst, **kw,
        )

    def graph_components(self, src: str, dst: str, **kw) -> "SemanticFrame":
        """Connected components (min member id) of the undirected
        graph — see functions/graphs.graph_components."""
        from .functions import graphs

        return self._next(
            graphs.graph_components(self.df, src, dst, **kw),
            "graph_components", src=src, dst=dst, **kw,
        )

    def jaccard_neighbors(self, src: str, dst: str, **kw) -> "SemanticFrame":
        """Neighborhood-Jaccard similar pairs (shared third parties) —
        see functions/graphs.jaccard_neighbors."""
        from .functions import graphs

        return self._next(
            graphs.jaccard_neighbors(self.df, src, dst, **kw),
            "jaccard_neighbors", src=src, dst=dst, **kw,
        )

    def label_propagation(self, seeds, src: str, dst: str,
                          **kw) -> "SemanticFrame":
        """Fixed-iteration deterministic label spreading from seed
        labels — see functions/graphs.label_propagation. ``seeds`` is a
        DataFrame or SemanticFrame with (node, label) columns."""
        from .functions import graphs

        sdf = seeds.df if isinstance(seeds, SemanticFrame) else seeds
        return self._next(
            graphs.label_propagation(self.df, sdf, src, dst, **kw),
            "label_propagation", src=src, dst=dst, **kw,
        )

    def changepoint_mean_shift(self, *, keys: list[str], ts_col: str,
                               value_col: str, **kw) -> "SemanticFrame":
        """Best between-SS mean-shift split per key stream — see
        functions/timeseries.changepoint_mean_shift."""
        from .functions import timeseries as ts

        return self._next(
            ts.changepoint_mean_shift(self.df, keys=keys, ts_col=ts_col,
                                      value_col=value_col, **kw),
            "changepoint_mean_shift", keys=keys, ts_col=ts_col,
            value_col=value_col, **kw,
        )

    def sma_crossover(self, *, keys: list[str], ts_col: str,
                      value_col: str, **kw) -> "SemanticFrame":
        """Moving-average crossover signals — see
        functions/timeseries.sma_crossover."""
        from .functions import timeseries as ts

        return self._next(
            ts.sma_crossover(self.df, keys=keys, ts_col=ts_col,
                             value_col=value_col, **kw),
            "sma_crossover", keys=keys, ts_col=ts_col, value_col=value_col,
            **kw,
        )

    def runs(self, *, keys: list[str], ts_col: str, value_col: str,
             **kw) -> "SemanticFrame":
        """Above-mean runs analysis per key stream — see
        functions/timeseries.runs_by."""
        from .functions import timeseries as ts

        return self._next(
            ts.runs_by(self.df, keys=keys, ts_col=ts_col,
                       value_col=value_col, **kw),
            "runs", keys=keys, ts_col=ts_col, value_col=value_col, **kw,
        )

    def acf_table(self, *, keys: list[str], ts_col: str, value_col: str,
                  **kw) -> "SemanticFrame":
        """Autocorrelation table, lags 1..max_lag in one pass — see
        functions/timeseries.acf_table."""
        from .functions import timeseries as ts

        return self._next(
            ts.acf_table(self.df, keys=keys, ts_col=ts_col,
                         value_col=value_col, **kw),
            "acf_table", keys=keys, ts_col=ts_col, value_col=value_col, **kw,
        )

    def session_entry_exit(self, *, keys: list[str], ts_col: str,
                           page_col: str, gap: int, tiebreak: str,
                           **kw) -> "SemanticFrame":
        """Entry/exit/bounce report per page — see
        functions/timeseries.session_entry_exit."""
        from .functions import timeseries as ts

        return self._next(
            ts.session_entry_exit(self.df, keys=keys, ts_col=ts_col,
                                  page_col=page_col, gap=gap,
                                  tiebreak=tiebreak, **kw),
            "session_entry_exit", keys=keys, ts_col=ts_col,
            page_col=page_col, gap=gap, tiebreak=tiebreak, **kw,
        )

    def vocab_growth(self, text_col: str, *, id_col: str,
                     step: int = 100) -> "SemanticFrame":
        """Heaps-law vocabulary growth curve — see
        functions/text.vocab_growth."""
        from .functions import text as textf

        return self._next(
            textf.vocab_growth(self.df, text_col, id_col=id_col, step=step),
            "vocab_growth", text_col=text_col, id_col=id_col, step=step,
        )

    def curriculum_order(self, score_col: str, *, id_cols: list[str],
                         **kw) -> "SemanticFrame":
        """Tier-round-robin curriculum manifest — see
        functions/training.curriculum_order."""
        from .functions import training

        return self._next(
            training.curriculum_order(self.df, score_col, id_cols=id_cols,
                                      **kw),
            "curriculum_order", score_col=score_col, id_cols=id_cols, **kw,
        )

    # --------------------------------------------------- external-IO ops
    def web_search(self, *, query_col: str, **kw) -> "SemanticFrame":
        return self._next(web_ops.web_search(self.df, query_col=query_col, **kw), "web_search")

    def web_fetch(self, *, url_col: str, **kw) -> "SemanticFrame":
        return self._next(web_ops.web_fetch(self.df, url_col=url_col, **kw), "web_fetch")

    # ---------------------------------------------------------- actions
    # -------------------------------------------------------- profiling
    def profiled(self) -> "SemanticFrame":
        """Enable per-op row observation for every SUBSEQUENT verb: each
        op output gets a ``CollectMetrics`` node (``DataFrame.observe``),
        so observed row counts and selectivities ride whatever action the
        user eventually runs — no extra jobs, unlike a count() per stage.
        The reference tracks observed selectivity the same way during its
        eager pull execution (containers.py:442-466); this is the lazy
        Spark formulation."""
        from pyspark.sql import Observation

        o = Observation(f"op{max(0, len(self.op_log) - 1)}:input")
        df = self.df.observe(o, F.count(F.lit(1)).alias("rows"))
        return SemanticFrame(df, self.backend, self.op_log,
                             _observe=True, _obs=(("input", o),))

    def profile_stats(self, *, materialize: bool = True) -> list[dict]:
        """Observed per-op rows + selectivity after (or via) one action.

        Returns ``[{op, rows, selectivity}, ...]`` in chain order, where
        selectivity is rows/previous-rows. With ``materialize=True`` the
        frame is evaluated through the no-op sink (full column
        evaluation, nothing written) if no action has run yet."""
        if not self._obs:
            raise ValueError("profile_stats() needs a frame built from .profiled()")
        if materialize:
            self.df.write.format("noop").mode("overwrite").save()
        out, prev = [], None
        for name, o in self._obs:
            rows = int(o.get["rows"])
            sel = round(rows / prev, 6) if prev else None
            out.append({"op": name, "rows": rows, "selectivity": sel})
            prev = max(rows, 1)
        return out

    def to_plan_stats(self, **overrides):
        """Measured ``PlanStats`` for the directive optimizer: observed
        input rows, observed filter selectivity (product over filter-kind
        ops), observed reduce group count. The optimizer's cost model
        then scores candidate rewrites against THIS pipeline's data
        instead of the defaults."""
        from .plans.directives import PlanStats

        prof = self.profile_stats()
        rows = prof[0]["rows"] if prof else 1000
        sel = 1.0
        groups = None
        for row in prof:
            if row["op"] in ("filter", "code_filter", "where", "sem_filter") and row["selectivity"] is not None:
                sel *= row["selectivity"]
            if row["op"] in ("reduce", "code_reduce", "group_agg"):
                groups = row["rows"]
        kw = {"rows": rows, "groups": groups}
        if sel < 1.0:
            kw["filter_selectivity"] = round(sel, 6)
        kw.update(overrides)
        return PlanStats(**kw)

    def schema(self):
        return self.df.schema

    def plan(self) -> list:
        return [op for op, *_ in self.op_log]

    def explain(self, mode: str = "formatted"):
        return self.df.explain(mode)

    def collect(self, *, release_caches: bool = True) -> list[dict]:
        """Memoized on the frame instance (reference frame.py:1034-1063):
        repeated terminal actions (collect then count, ...) reuse the
        first materialization instead of re-running the semantic ops.
        Rows are handed out as DEEP copies so caller mutations — including
        of nested lists/dicts — can't corrupt the memo.

        ``release_caches`` (default True, r12): after the memoizing
        materialization, unpersist the intermediates this frame's ops
        pinned (``_caches``) — in a long-lived session they otherwise
        accumulate until clearCache. Trade-off: a frame DERIVED from
        this one after the release recomputes that lineage uncached
        (derive first, collect last — or pass ``release_caches=False``
        and call :meth:`release_caches` yourself)."""
        if "rows" not in self._memo:
            self._memo["rows"] = [r.asDict(recursive=True) for r in self.df.collect()]
        if release_caches:
            self.release_caches()
        import copy

        return copy.deepcopy(self._memo["rows"])

    def release_caches(self) -> int:
        """Unpersist every intermediate this frame's ops pinned; returns
        the number released. Idempotent (a released handle is skipped on
        the next call); safe at any time — caches are a performance
        artifact, never a correctness one."""
        n = 0
        for c in self._caches:
            try:
                if c.storageLevel.useMemory or c.storageLevel.useDisk:
                    c.unpersist()
                    n += 1
            except Exception:  # pragma: no cover — a dead session etc.
                pass
        return n

    def show(self, n: int = 5, truncate: bool = True):
        return self.df.show(n, truncate=truncate)

    def count(self) -> int:
        if "rows" in self._memo:
            return len(self._memo["rows"])
        return self.df.count()

    def to_pandas(self):
        return self.df.toPandas()

    def plan_report(self) -> dict:
        """Scale-readiness audit of the physical plan, as data — the
        checklist the repo's plan reviews run by hand (PLANS.md):
        exchange count (every one is a shuffle), join strategies
        (CartesianProduct / BroadcastNestedLoopJoin are the forbidden
        unbounded ones), filter pushdown and column pruning at the
        scans, and whole-stage-codegen span count (wider = more of the
        plan stays JVM-compiled). Inspect before shipping a new
        pipeline to a large cluster; tests/test_plan_shapes.py runs the
        same checks as regression gates."""
        import contextlib
        import io
        import re

        plan = self.df._jdf.queryExecution().executedPlan().toString()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            self.df.explain("formatted")
        formatted = buf.getvalue()
        return {
            "exchanges": len(re.findall(r"\bExchange\b", plan)),
            "forbidden": [
                b for b in ("CartesianProduct", "BroadcastNestedLoopJoin")
                if b in plan
            ],
            "broadcast_hash_joins": plan.count("BroadcastHashJoin"),
            "sort_merge_joins": plan.count("SortMergeJoin"),
            "pushed_filters": re.findall(r"PushedFilters: \[([^\]]*)\]", formatted),
            "read_schemas": re.findall(r"ReadSchema: struct<([^>]*)>", formatted),
            # executedPlan marks codegen stages as `*(n)` prefixes
            "codegen_stages": len(set(re.findall(r"\*\((\d+)\)", plan))),
        }

    def cache(self) -> "SemanticFrame":
        return self._next(self.df.cache(), "cache")

    def write_parquet(self, path: str, mode: str = "overwrite", **kw):
        readers.write_output(self.df, path if path.endswith(".parquet") or "." not in path.rsplit("/", 1)[-1] else path, mode=mode, **kw)

    def write_bucketed(self, table: str, *, bucket_by, num_buckets: int = 32, **kw):
        readers.write_bucketed_table(self.df, table, bucket_by=bucket_by, num_buckets=num_buckets, **kw)

    def write_json(self, path: str, mode: str = "overwrite"):
        self.df.write.mode(mode).json(path)

    def write_csv(self, path: str, mode: str = "overwrite"):
        self.df.write.mode(mode).option("header", "true").csv(path)

    # ---------------------------------------------- YAML / code round-trip
    def _export_ops(self) -> tuple[dict, list[dict]]:
        """(dataset config, operation configs) from the op-log, or raise
        for Python-only ops (reference frame.py:1230-1247 raises the same
        way for agent tools)."""
        if not self.op_log or self.op_log[0][0] != "scan":
            raise ValueError("to_yaml needs a frame rooted at a read_* factory")
        scan = dict(self.op_log[0][1])
        if scan.get("path") in ("<memory>", "<dataframe>"):
            raise ValueError(
                "frames over in-memory data cannot be exported to YAML; "
                "write the data to a file first"
            )
        ops: list[dict] = []
        for i, (op, conf) in enumerate(self.op_log[1:], 1):
            if op == "rewrites":
                continue
            if op not in _EXPORTABLE:
                raise ValueError(
                    f"op {op!r} is Python-only and cannot be exported to YAML "
                    "(native DataFrame ops and callable-backed code ops have "
                    "no pipeline-config equivalent)"
                )
            if op in ("code_map", "code_filter", "code_reduce") and not (
                conf.get("code") or conf.get("predicate")
            ):
                raise ValueError(
                    f"{op} built from a bare callable cannot be exported; "
                    "pass the python source string instead"
                )
            if op in ("pack_sequences", "pack_documents") and conf.get("_shard_expr"):
                raise ValueError(
                    f"{op} built with a shard_expr Column cannot be "
                    "exported to YAML; use n_shards for replayable sharding"
                )
            clean = {
                k: v for k, v in conf.items()
                if v is not None and v != {} and _EXPORT_DEFAULTS.get(k, object()) != v
            }
            ops.append({"name": f"{op}_{i}", "type": op, **clean})
        return scan, ops

    def to_yaml(self, path: str | None = None, *, dataset_name: str = "input") -> str:
        """Export the frame's op chain as a reference-shaped pipeline
        config (frame.py:1230-1247); ``from_yaml`` replays it. Writes to
        ``path`` when given; always returns the YAML string."""
        import yaml

        scan, ops = self._export_ops()
        config = {
            "datasets": {dataset_name: {"type": "file", **scan}},
            "operations": ops,
            "pipeline": {"steps": [{
                "name": "step_1", "input": dataset_name,
                "operations": [o["name"] for o in ops],
            }]},
        }
        out = yaml.dump(config, default_flow_style=False, sort_keys=False)
        if path:
            with open(path, "w") as f:
                f.write(out)
        return out

    @classmethod
    def from_yaml(cls, spark: SparkSession, path: str, *, backend=None) -> "SemanticFrame":
        """Load a pipeline YAML and replay it (frame.py:1183-1228). The
        returned frame's op-log re-records each op, so a second to_yaml
        round-trips to an equivalent config."""
        from .plans.yaml_front import run_yaml

        return run_yaml(spark, path, backend=backend)

    # ---------------------------------------------- cost / optimization
    @property
    def token_usage(self) -> dict:
        """Token/call accounting from the frame's ResilientBackend metrics
        (reference frame.py:1093-1100). Empty when the backend carries no
        metrics accumulator set."""
        m = getattr(self.backend, "metrics", None)
        return m.snapshot() if m is not None else {}

    def total_cost(self) -> float:
        """Estimated model cost of executed work, in the directive cost
        model's units: tokens/1k x model weight (reference
        frame.py:1088-1091; exact when the backend reports real usage)."""
        from .plans.directives import DEFAULT_MODEL, MODEL_WEIGHTS

        u = self.token_usage
        if not u:
            return 0.0
        model = getattr(getattr(self.backend, "inner", self.backend), "model", DEFAULT_MODEL)
        w = MODEL_WEIGHTS.get(model, MODEL_WEIGHTS[DEFAULT_MODEL])
        return (u.get("prompt_tokens", 0) + u.get("completion_tokens", 0)) / 1000.0 * w

    def should_optimize(self, *, max_samples: int = 20):
        """One-call decomposition probe for this frame's LAST map-shaped
        op (plans.directives.should_optimize; reference
        fast_should_optimize.py): asks the backend once, over a bounded
        sample of THIS frame's output, whether the op is worth running
        through the directive search. Returns a ShouldOptimizeVerdict."""
        from .plans.directives import should_optimize as _probe
        from .plans.ir import OpSpec

        be = self._require_backend("should_optimize")
        for op, conf in reversed(self.op_log):
            if op in ("map", "filter"):
                return _probe(OpSpec(op, dict(conf)), self.df, be, max_samples=max_samples)
        raise ValueError("should_optimize needs a map/filter op in the chain")

    def estimate_cost(self, *, stats=None, measured: bool = False) -> float:
        """Estimated model-call cost of this frame's recorded op chain
        under the directive optimizer's cost model (directives.py
        estimate_cost) — the dry-run a user checks BEFORE paying for a
        run. ``measured=True`` grounds the estimate in this pipeline's
        observed rows/selectivity (``to_plan_stats`` — runs counting
        jobs); default uses the supplied or default ``PlanStats``."""
        from .plans import PlanStats, estimate_cost as _est, lift

        scan, op_configs = self._export_ops()
        if stats is None:
            if measured:
                try:
                    stats = self.to_plan_stats()  # full profile when available
                except ValueError:
                    # not a .profiled() frame: ground on the SOURCE row
                    # count. Counting self.df would materialize the whole
                    # op chain — executing every model call to estimate
                    # the cost of executing them. Re-read the scan config
                    # instead (one count job over the raw input).
                    reader = {"parquet": SemanticFrame.read_parquet,
                              "json": SemanticFrame.read_json,
                              "csv": SemanticFrame.read_csv}.get(scan.get("format"))
                    if reader is None:
                        raise ValueError(
                            f"estimate_cost(measured=True) needs a countable "
                            f"scan root; got {scan.get('format')!r} — use "
                            ".profiled() or pass stats explicitly"
                        )
                    src = reader(self.df.sparkSession, scan["path"])
                    stats = PlanStats(rows=src.df.count())
            else:
                stats = PlanStats()
        return _est(lift(op_configs), stats)

    def optimize(
        self,
        *,
        stats=None,
        objective: str = "cost",
        evaluate=None,
        agent_backend=None,
        max_iterations: int = 12,
        exploration_weight: float = 1.414,
    ) -> "SemanticFrame":
        """MOAR-optimize this frame's recorded op chain and return a NEW
        frame replaying the Pareto-best plan against the same source
        (reference frame.py:1121-1172). The full search result rides on
        the returned frame as ``.search_results``. Only YAML-exportable
        chains qualify (same contract as to_yaml)."""
        from .plans import PlanStats, lift, moar_search, run_pipeline

        scan, op_configs = self._export_ops()
        result = moar_search(
            lift(op_configs), stats or PlanStats(),
            backend=agent_backend, evaluate=evaluate,
            max_iterations=max_iterations, exploration_constant=exploration_weight,
        )
        best = result.best(objective)
        ops, seen = [], set()
        for i, o in enumerate(best.ops):
            name = o.config.get("name", f"{o.type}_{i}")
            while name in seen:  # directive copies may reuse a name
                name = f"{name}_{i}"
            seen.add(name)
            ops.append({"name": name, "type": o.type,
                        **{k: v for k, v in o.config.items() if k != "name"}})
        config = {
            "datasets": {"input": {"type": "file", **scan}},
            "operations": ops,
            "pipeline": {"steps": [{
                "name": "step_1", "input": "input",
                "operations": [o["name"] for o in ops],
            }]},
        }
        optimized = run_pipeline(self.df.sparkSession, config, backend=self.backend)
        object.__setattr__(optimized, "search_results", result)
        return optimized

    def to_python(self) -> str:
        """Python source that recreates this chain with the SemanticFrame
        API (reference frame.py:1251-1331's code generator)."""
        scan, ops = self._export_ops()
        reader = {"parquet": "read_parquet", "json": "read_json",
                  "csv": "read_csv", "dir": "read_dir"}[scan.get("format", "parquet")]
        lines = [
            "from docetl_spark import SemanticFrame",
            "",
            f"sf = SemanticFrame.{reader}(spark, {scan['path']!r}, backend=backend)",
        ]
        for o in ops:
            op = o["type"]
            conf = {k: v for k, v in o.items() if k not in ("name", "type")}
            if op == "limit":
                lines.append(f"sf = sf.limit({conf['n']!r})")
                continue
            args: list[str] = []
            # positional signatures mirror the fluent API
            positional = {
                "map": ["prompt"], "filter": ["prompt"],
                "reduce": ["reduce_key", "prompt"],
                "code_map": ["code"], "code_reduce": ["reduce_key", "code"],
                "split": ["split_key", "method", "method_kwargs"],
                "gather": ["content_key", "doc_id_key", "order_key"],
                "unnest": ["unnest_key"], "unnest_columns": ["column"],
                "add_uuid": ["id_key"], "sample": ["method", "samples"],
                "extract": ["prompt", "document_keys"],
                "code_filter": ["predicate"] if "predicate" in conf else ["code"],
                "parallel_map": ["prompts"],
            }.get(op, [])
            for k in positional:
                args.append(repr(conf.pop(k, None)))
            schema = conf.pop("output", None)
            if schema is not None:
                args.append(repr(schema["schema"]))
            args += [f"{k}={v!r}" for k, v in conf.items()]
            lines.append(f"sf = sf.{op}({', '.join(args)})")
        return "\n".join(lines) + "\n"
