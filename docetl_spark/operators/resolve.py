"""Resolve operator: entity resolution / canonicalization.

Reference semantics: /root/reference/docetl/operations/resolve.py:40-892
- candidate pairs from code ``blocking_conditions`` and/or embedding
  cosine >= ``blocking_threshold`` (414-521), plus exact blocking-key
  equality shortcut (216-223);
- pairwise LLM ``comparison_prompt`` -> is_match (194-242);
- union-find transitive clustering (554-590);
- per-cluster canonicalization via ``resolution_prompt`` (717-793) or
  majority vote (847-861);
- every input row is annotated with its cluster's canonical values —
  cardinality preserved.

Spark realization (scale posture, SURVEY.md §7.4):
- embeddings are a column (backend.embed inside an Arrow-batched UDF);
- candidate generation is LSH-bucketed (random hyperplanes) by default —
  an equi-join on bucket id, never the reference's O(n^2) cosine matrix
  (resolve.py:500-518, deliberately not replicated);
- every pair leaves its blocking source carrying both rows' compare
  payload (``_a_*`` / ``_b_*``), so pairwise adjudication, one
  ``mapInPandas`` stage, reads the pair table without a join back to
  the input;
- clustering = driver union-find over the collected match edges, or
  iterative min-label propagation past the edge gate (connected
  components); the label table covers matched ids only and is joined
  straight onto the input (on the driver path a LocalRelation,
  broadcast without a job), an unmatched row labelling itself;
- canonicalization without ``resolution_prompt`` is a SQL majority vote,
  ``mode`` over a window on the cluster id; with it, one model call per
  cluster through ``semantic.run_groups`` (a task's clusters in flight
  together), then a join annotates all rows.
"""

from __future__ import annotations

import logging

import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F, types as T

from ..backend import ModelBackend
from ..functions.dedup import connected_components
from ..functions.similarity import banded_candidate_pairs
from ..types import schema_of
from .semantic import judge, pair_question, render_prompt, run_groups

# Unblocked resolve and equijoin degenerate to an O(n^2) / O(n*m) cross
# join; both refuse past this many input rows on a side (reference
# equijoin.py:318-330 warns at 100 — we allow a little headroom but
# still fail long before the plan is scheduled).
_NO_BLOCKING_MAX_ROWS = 1000


def embed_column(
    df: DataFrame, keys: list[str], backend: ModelBackend, *, out_col: str = "_embedding"
) -> DataFrame:
    """Embedding column from the concatenation of ``keys`` (the
    reference's get_embeddings_for_clustering shape)."""
    from ..session import widen_scan

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def embed(s: pd.Series) -> pd.Series:
        return pd.Series(backend.embed(list(s)))

    text = F.concat_ws(" ", *[F.col(k).cast("string") for k in keys])
    return widen_scan(df).withColumn(out_col, embed(text))


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    *,
    key: str,
    window: int = 5,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo 1995): rank the
    whole table by ``key`` (a SQL expression — typically a normalized
    prefix like ``lower(substring(name, 1, 8))``), pair every two rows
    within ``window`` positions of each other. The classic complement
    to LSH blocking: catches near-duplicates whose similarity lives in
    the SORT key (typos late in the string, prefix-stable entities)
    without any embedding.

    Scalable form: the global rank comes from rank.py's range-partition
    + offset-map machinery (never a 1-partition window), and neighbors
    meet via rank-buckets of width ``window`` — every pair with rank
    distance <= window-1 is in the same or adjacent bucket, so the
    pairing is two equi-joins on bucket id, never O(n^2). Returns
    (id_a, id_b), id_a < id_b."""
    if window < 2:
        raise ValueError(f"sorted_neighborhood_pairs: window must be >= 2, got {window}")
    from .rank import _global_row_number

    tb = [c for c in (tiebreak or []) if c != id_col] + [id_col]
    base = df.select(id_col, F.expr(key).alias("_snk"), *[c for c in tb if c != id_col])
    order = [F.col("_snk").asc()] + [F.col(c).asc() for c in tb]
    ranked = _global_row_number(base, order, "_rnk").select(
        id_col, "_rnk", F.expr(f"(_rnk - 1) DIV {int(window)}").alias("_b")
    )
    a = ranked.select(F.col(id_col).alias("_ia"), F.col("_rnk").alias("_ra"), F.col("_b").alias("_ba"))
    b = ranked.select(F.col(id_col).alias("_ib"), F.col("_rnk").alias("_rb"), F.col("_b").alias("_bb"))
    same = a.join(b, (F.col("_ba") == F.col("_bb")) & (F.col("_ra") < F.col("_rb")))
    adj = a.join(b, (F.col("_ba") + 1 == F.col("_bb"))).filter(
        F.col("_rb") - F.col("_ra") <= window - 1
    )
    pairs = same.unionByName(adj).select(
        F.least("_ia", "_ib").alias("id_a"), F.greatest("_ia", "_ib").alias("id_b")
    )
    return pairs.dropDuplicates(["id_a", "id_b"])


def candidate_pairs(
    df: DataFrame,
    id_col: str,
    *,
    compare_cols: list[str] | None = None,
    blocking_keys: list[str] | None = None,
    blocking_threshold: float | None = None,
    blocking_conditions: list[str] | None = None,
    sorted_neighborhood: dict | None = None,
    backend: ModelBackend | None = None,
    embedding_col: str | None = None,
    n_planes: int = 8,
    lsh_seed: int = 42,
    dim: int | None = None,
    target_recall: float = 0.95,
    bands: int | None = None,
    limit_comparisons: int | None = None,
    sample_seed: int = 42,
) -> DataFrame:
    """Union of four pruning strategies, deduplicated: (a) exact
    blocking-key equality, (b) embedding-cosine >= threshold via banded
    sign-LSH OR-amplification (bands auto-planned so recall at the
    threshold meets ``target_recall`` — the reference's
    blocking_target_recall contract, resolve.py:361), (c) arbitrary pair
    predicates (SQL exprs over ``a.``/``b.`` prefixed columns),
    (d) ``sorted_neighborhood={"key": <sql expr>, "window": N}`` —
    classic rank-window blocking (see sorted_neighborhood_pairs).
    ``n_planes`` is the per-band plane count (selectivity: each band
    has 2^n_planes buckets).

    Returns (id_a, id_b, _a_<c>..., _b_<c>...), id_a < id_b: each pair
    carries both rows' ``compare_cols`` (default: every column but
    ``id_col``), the table ``adjudicate_pairs`` reads as it is. The
    strategies that join rows (key equality, conditions, the unblocked
    fallback) project the payload out of that join; the id-only ones
    (LSH banding, sorted neighbourhood) get it attached once, by id,
    after their union. ``id_col`` identifies rows.

    ``limit_comparisons`` caps the pair count (reference
    resolve.py:526-547: code-blocked pairs prioritized, the remainder
    sampled from embedding pairs). Deterministic deviations from the
    reference's ``random.sample`` (documented so a SQL oracle can
    replay the pair set): the sample is the first ``limit`` pairs
    ordered by (source priority asc — code 0, embedding 1 — then
    md5('{seed}|id_a|id_b'), then ids), and before any pair is
    generated the blocking-KEY buckets are row-capped at the smallest
    K with K·(K−1)/2 >= limit (md5-of-id order), so a single hot
    bucket can still fill the whole budget but can never materialize a
    quadratic pair table the global cut would then throw away — the
    100-TB guard, logged loudly when it fires.
    """
    cols = [c for c in df.columns if c != id_col] if compare_cols is None else list(compare_cols)
    payload = [f"_a_{c}" for c in cols] + [f"_b_{c}" for c in cols]
    a = df.alias("a")
    b = df.alias("b")
    lt = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    row_pair = [
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"),
        *[F.col(f"a.{c}").alias(f"_a_{c}") for c in cols],
        *[F.col(f"b.{c}").alias(f"_b_{c}") for c in cols],
    ]
    rows: list[DataFrame] = []  # pairs out of a join of the rows: payload in hand
    ids: list[DataFrame] = []  # (id_a, id_b) only
    log = logging.getLogger(__name__)

    def add(to: list[DataFrame], part: DataFrame, src: int) -> None:
        # src 0 = code-blocked (prioritized by the budget cut), 1 = embedding
        to.append(part if limit_comparisons is None else part.withColumn("_src", F.lit(src)))

    if blocking_keys:
        if limit_comparisons is not None:
            # pre-cap rows per (lowercased) key bucket BEFORE the self
            # join: smallest K with K(K-1)/2 >= limit keeps any single
            # bucket able to fill the whole pair budget while bounding
            # the blocked-pair table linearly in the bucket count
            import math

            K = max(2, (1 + math.isqrt(1 + 8 * limit_comparisons)) // 2)
            while K * (K - 1) < 2 * limit_comparisons:
                K += 1
            from .blocking import bucket_top_k

            bcols = [f"_cpb{i}" for i in range(len(blocking_keys))]
            base = df.select(
                F.col(id_col),
                *[
                    F.lower(F.col(k).cast("string")).alias(c)
                    for k, c in zip(blocking_keys, bcols)
                ],
                *cols,
            )
            over = (
                base.groupBy(*bcols).count().agg(
                    F.sum(F.when(F.col("count") > K, 1).otherwise(0)).alias("nb"),
                    F.max("count").alias("mx"),
                ).first()
            )
            if over and (over["nb"] or 0) > 0:
                log.warning(
                    "resolve blocking: %d key bucket(s) exceed the %d-row "
                    "pair budget cap (largest: %d rows = %d pairs); "
                    "deterministically row-capping before the pair join",
                    over["nb"], K, over["mx"],
                    over["mx"] * (over["mx"] - 1) // 2,
                )
            h = F.md5(F.concat_ws(
                "|", F.lit(str(sample_seed)), F.col(id_col).cast("string")))
            capped = bucket_top_k(
                base.withColumn("_cph", h), bcols,
                [F.col("_cph").asc(), F.col(id_col).asc()], K,
                salt_cols=[id_col],
            )
            ca = capped.select(F.col(id_col).alias("id_a"), *bcols,
                               *[F.col(c).alias(f"_a_{c}") for c in cols])
            cb = capped.select(F.col(id_col).alias("id_b"), *bcols,
                               *[F.col(c).alias(f"_b_{c}") for c in cols])
            add(rows, ca.join(cb, bcols).filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b", *payload), 0)
        else:
            # case-insensitive key equality, matching adjudicate_pairs'
            # auto_match_keys predicate and the reference (resolve.py:216-223)
            cond = lt
            for k in blocking_keys:
                cond = cond & (
                    F.lower(F.col(f"a.{k}").cast("string")) == F.lower(F.col(f"b.{k}").cast("string"))
                )
            add(rows, a.join(b, cond).select(*row_pair), 0)

    if blocking_threshold is not None:
        emb = embedding_col
        if emb is None:
            raise ValueError("blocking_threshold requires an embedding column (embed_column first)")
        add(ids, banded_candidate_pairs(
            df.select(id_col, emb), id_col, emb,
            threshold=float(blocking_threshold),
            rows_per_band=n_planes,
            target_recall=target_recall,
            bands=bands,
            seed=lsh_seed,
            dim=dim,
        ), 1)

    if blocking_conditions:
        cond = lt
        ors = None
        for expr in blocking_conditions:
            c = F.expr(expr)
            ors = c if ors is None else (ors | c)
        add(rows, a.join(b, cond & ors).select(*row_pair), 0)

    if sorted_neighborhood:
        add(ids, sorted_neighborhood_pairs(df, id_col, **sorted_neighborhood), 0)

    if not rows and not ids:
        # no blocking configured: all pairs. The reference allows this for
        # tiny inputs only (equijoin.py:318-330 warns past 100 rows); we
        # gate the cross join on an early-stopping count so a missing
        # blocking config fails fast instead of silently scheduling O(n^2)
        # comparisons.
        if df.limit(_NO_BLOCKING_MAX_ROWS + 1).count() > _NO_BLOCKING_MAX_ROWS:
            raise ValueError(
                f"resolve: no blocking configured and input has more than "
                f"{_NO_BLOCKING_MAX_ROWS} rows; an unblocked resolve is O(n^2) "
                "comparisons. Configure blocking_keys, blocking_threshold "
                "(embedding similarity), or blocking_conditions."
            )
        add(rows, a.join(b, lt).select(*row_pair), 0)

    n_sources = len(rows) + len(ids)
    if ids:
        id_pairs = ids[0]
        for p in ids[1:]:
            id_pairs = id_pairs.unionByName(p)
        side = df.select(F.col(id_col), *cols)
        rows.append(
            id_pairs
            .join(side.select(F.col(id_col).alias("id_a"), *[F.col(c).alias(f"_a_{c}") for c in cols]), "id_a")
            .join(side.select(F.col(id_col).alias("id_b"), *[F.col(c).alias(f"_b_{c}") for c in cols]), "id_b")
        )
    out = rows[0]
    for p in rows[1:]:
        out = out.unionByName(p)

    if limit_comparisons is None:
        if n_sources > 1:
            out = out.dropDuplicates(["id_a", "id_b"])
        return out.select("id_a", "id_b", *payload)

    # deterministic budget cut (reference resolve.py:526-547, made
    # replayable): dedup keeps the highest-priority source per pair,
    # then the global top-``limit`` by (source, md5, ids) — all code
    # pairs sort before any embedding pair, so "code pairs first, fill
    # the rest from embedding" falls out of one distributed rank
    if n_sources > 1:
        out = out.groupBy("id_a", "id_b").agg(
            F.min("_src").alias("_src"), *[F.first(c).alias(c) for c in payload])
    n_pairs = out.count()
    if n_pairs <= limit_comparisons:
        return out.select("id_a", "id_b", *payload)
    log.warning(
        "resolve: %d blocked pairs exceed limit_comparisons=%d; keeping a "
        "deterministic md5-ordered sample (code-blocked pairs first)",
        n_pairs, limit_comparisons,
    )
    from .rank import _global_row_number

    ranked = _global_row_number(
        out.withColumn("_h", F.md5(F.concat_ws(
            "|", F.lit(str(sample_seed)),
            F.col("id_a").cast("string"), F.col("id_b").cast("string")))),
        [F.col("_src").asc(), F.col("_h").asc(),
         F.col("id_a").asc(), F.col("id_b").asc()],
        "_grn",
    )
    return ranked.filter(F.col("_grn") <= limit_comparisons).select("id_a", "id_b", *payload)


def adjudicate_pairs(
    pairs: DataFrame,
    comparison_prompt: str,
    backend: ModelBackend,
    *,
    auto_match_keys: list[str] | None = None,
    cascade: dict | None = None,
) -> DataFrame:
    """LLM pairwise is_match over candidate pairs (resolve.py:194-242).
    ``pairs`` is ``candidate_pairs``' table, read as it is: the prompt
    sees each row's ``_a_<c>`` / ``_b_<c>`` payload as ``{{ input1 }}``
    / ``{{ input2 }}``, the backend a 2-tuple context; FakeBackend's
    default bool rule is normalized equality. Returns the matching
    (id_a, id_b).

    ``auto_match_keys``: pairs whose values for ALL these keys are
    case-insensitively equal are matched WITHOUT a backend call
    (resolve.py:216-223) — a JVM-side predicate, so dense same-key blocks
    never reach the Python UDF (at 1000 same-key rows that is the
    difference between 0 and 500k model calls).

    ``cascade``: the proxy/oracle cascade of ``semantic.judge``, as on
    filter (``{"proxy_threshold": p}``, or a calibrated ``guarantee``,
    precision by default); the reference runs the same cascade on
    resolve comparisons (cascade_runner.py)."""
    cols = [c[3:] for c in pairs.columns if c.startswith("_a_")]
    # spread the pairwise UDF across the executor pool (the blocking
    # join's output may sit in far fewer partitions)
    joined = pairs.repartition(pairs.sparkSession.sparkContext.defaultParallelism or 8)

    auto = None
    if auto_match_keys:
        cond = F.lit(True)
        for k in auto_match_keys:
            cond = cond & (
                F.lower(F.col(f"_a_{k}").cast("string")) == F.lower(F.col(f"_b_{k}").cast("string"))
            )
        auto = joined.filter(cond).select("id_a", "id_b")
        joined = joined.filter(~cond)

    def render(r):
        return pair_question(comparison_prompt, ("input1", "input2"),
                             {c: r[f"_a_{c}"] for c in cols}, {c: r[f"_b_{c}"] for c in cols})

    adjudicated = judge(joined, render, {"is_match": "bool"}, backend,
                        op="resolve", cascade=cascade).select("id_a", "id_b")
    return adjudicated.unionByName(auto) if auto is not None else adjudicated


def resolve(
    df: DataFrame,
    backend: ModelBackend,
    *,
    id_col: str,
    comparison_prompt: str,
    output_schema: dict,
    resolution_prompt: str | None = None,
    compare_cols: list[str] | None = None,
    blocking: str | None = None,
    blocking_keys: list[str] | None = None,
    blocking_threshold: float | str | None = None,
    blocking_conditions: list[str] | None = None,
    sorted_neighborhood: dict | None = None,
    embedding_keys: list[str] | None = None,
    blocking_target_recall: float = 0.95,
    cascade: dict | None = None,
    log_blocking_stats: bool = False,
    comparison_model: str | None = None,
    embedding_model: str | None = None,
    limit_comparisons: int | None = None,
) -> DataFrame:
    """Full resolve: block -> adjudicate -> cluster -> canonicalize ->
    annotate. Row count is preserved; declared output_schema columns are
    overwritten with canonical values; a ``_cluster_id`` column records
    the cluster representative id.

    ``blocking_threshold="auto"`` calibrates the similarity cutoff at
    runtime against ``blocking_target_recall`` (blocking.py analogue of
    the reference's RuntimeBlockingOptimizer).

    ``comparison_model`` routes the pairwise adjudication calls to a
    different (usually cheaper) model than canonicalization
    (resolve.py:46,380); ``embedding_model`` does the same for blocking
    embeddings (resolve.py:430-431)."""
    cmp_backend = backend.with_options(model=comparison_model) if comparison_model else backend
    emb_backend = backend.with_options(embedding_model=embedding_model) if embedding_model else backend
    cols = compare_cols or [c for c in df.columns if c != id_col]
    if blocking == "auto":
        # blocking-rule synthesis (reference join_optimizer.py:1253-1370):
        # label a sample with the real comparison model, keep the most
        # selective catalog rule meeting the recall target, fall back to
        # a calibrated cosine threshold when no rule qualifies
        if blocking_keys or blocking_conditions or blocking_threshold is not None:
            raise ValueError(
                "blocking='auto' synthesizes the blocking config — do not also "
                "pass blocking_keys/blocking_threshold/blocking_conditions"
            )
        from .blocking import synthesize_blocking

        synth = synthesize_blocking(
            df, cmp_backend,
            id_col=id_col, comparison_prompt=comparison_prompt,
            compare_cols=cols,
            embedding_keys=embedding_keys,
            target_recall=blocking_target_recall,
            embed_backend=emb_backend,
        )
        logging.getLogger(__name__).info("resolve blocking synthesis: %s", synth.explanation)
        if synth.blocking_conditions:
            blocking_conditions = synth.blocking_conditions
        elif synth.blocking_threshold is not None:
            blocking_threshold = synth.blocking_threshold
    if blocking_threshold == "auto":
        from .blocking import auto_blocking_threshold

        # calibrate IN the spaces the threshold will be applied in: the
        # sample embeds with emb_backend (the runtime blocking space) and
        # the sample adjudication runs on cmp_backend (the runtime
        # verdict model) — mixing models here silently breaks the
        # recall-by-construction contract
        blocking_threshold = auto_blocking_threshold(
            df, cmp_backend,
            id_col=id_col, comparison_prompt=comparison_prompt,
            compare_cols=cols,
            embedding_keys=embedding_keys,
            target_recall=blocking_target_recall,
            embed_backend=emb_backend,
        )
    work = df
    embedding_col = None
    vec_dim = None
    if blocking_threshold is not None:
        work = embed_column(work, embedding_keys or compare_cols or [], emb_backend)
        embedding_col = "_embedding"
        # driver-side dim probe: without it banded_candidate_pairs would
        # run .first() — one partition of the embed MODEL stage — as a
        # throwaway job just to learn the vector width
        from .blocking import probe_embed_dim

        vec_dim = probe_embed_dim(emb_backend)

    # Blocking-key-equal rows are auto-matched without a model call
    # (resolve.py:216-223). Emitting the C(n,2) clique pairs just to
    # union-find them collapses dense blocks into O(n^2) edges — instead
    # connect each row directly to its block's min id (star edges,
    # n-1 per block); other blocking strategies still produce pairs for
    # adjudication, with the same-key shortcut applied per pair.
    star_edges = None
    if blocking_keys:
        # lower()-ed partition keys: rows whose blocking keys differ only
        # in case must land in one block, exactly as adjudicate_pairs'
        # auto_match_keys predicate would have matched them.
        wk = W.partitionBy(*[F.lower(F.col(k).cast("string")) for k in blocking_keys])
        star_edges = (
            df.withColumn("_min_id", F.min(id_col).over(wk))
            .filter(F.col(id_col) != F.col("_min_id"))
            .select(F.col("_min_id").alias("id_a"), F.col(id_col).alias("id_b"))
        )

    pairs = candidate_pairs(
        work,
        id_col,
        compare_cols=cols,
        blocking_keys=None,  # covered by star edges above
        blocking_threshold=blocking_threshold,
        blocking_conditions=blocking_conditions,
        sorted_neighborhood=sorted_neighborhood,
        embedding_col=embedding_col,
        target_recall=blocking_target_recall,
        dim=vec_dim,
        # caps ADJUDICATION pairs — the LLM-call budget the knob exists
        # for (reference resolve.py:526-547). Key-equal auto-matches
        # (star edges above) cost no model call, so they are not capped
        # — a documented deviation from the reference, which samples
        # before its auto-match shortcut.
        limit_comparisons=limit_comparisons,
    ) if (blocking_threshold is not None or blocking_conditions
          or sorted_neighborhood or not blocking_keys) else None

    if pairs is not None and log_blocking_stats:
        # comparisons-saved metric (resolve.py:619-624): opt-in — the
        # count is an extra job
        n = df.count()
        n_pairs = pairs.count()
        total = n * (n - 1) // 2
        saved = 100.0 * (1 - n_pairs / total) if total else 0.0
        logging.getLogger(__name__).info(
            "resolve blocking: %d/%d candidate pairs (%.1f%% of comparisons saved)",
            n_pairs, total, saved,
        )
    matches = None
    if pairs is not None:
        matches = adjudicate_pairs(
            pairs, comparison_prompt, cmp_backend,
            auto_match_keys=blocking_keys, cascade=cascade,
        )
    if matches is None and blocking_keys:
        # star edges only: blocks are disjoint, so each component IS its
        # block — cluster id = min id over the blocking-key partition.
        # One window shuffle instead of the iterative CC join loop.
        # Keys lower()-ed to stay consistent with auto_match_keys.
        wk = W.partitionBy(*[F.lower(F.col(k).cast("string")) for k in blocking_keys])
        clustered = df.withColumn("_cluster_id", F.min(id_col).over(wk))
    else:
        if star_edges is not None:
            matches = star_edges if matches is None else matches.unionByName(star_edges)
        # labels for the matched ids only (on the local path a driver-side
        # LocalRelation, broadcast without a job); an id with no edge
        # labels itself through the coalesce
        comp = connected_components(matches, None, id_col)
        clustered = df.join(comp, id_col, "left").withColumn(
            "_cluster_id", F.coalesce(F.col("component"), F.col(id_col))
        ).drop("component")

    declared = schema_of(output_schema)
    keep = [c for c in clustered.columns if c not in declared.fieldNames() and c != "_cluster_id"]
    if not resolution_prompt:
        # majority vote per declared key (resolve.py:847-861), ties to the
        # smallest value for determinism; every row of a cluster reads it
        # off one window, so no Python stage and no join back
        w = W.partitionBy("_cluster_id")
        votes = [
            (F.mode(f.name, deterministic=True).over(w) if f.name in clustered.columns
             else F.lit(None)).cast(f.dataType).alias(f.name)
            for f in declared.fields
        ]
        return clustered.select("_cluster_id", *keep, *votes)

    canon_schema = T.StructType(
        [T.StructField("_cluster_id", clustered.schema["_cluster_id"].dataType, True)]
        + list(declared.fields)
    )
    out_names = canon_schema.fieldNames()

    def canonicalize(pdf: pd.DataFrame) -> pd.DataFrame:
        items = pdf.sort_values(id_col, kind="mergesort").to_dict("records")
        prompt = render_prompt(resolution_prompt, {"inputs": items})
        res = backend.complete(prompt, output_schema, items)
        row = {"_cluster_id": items[0]["_cluster_id"], **{k: res.get(k) for k in output_schema}}
        return pd.DataFrame([{k: row.get(k) for k in out_names}], columns=out_names)

    canon = run_groups(clustered, ["_cluster_id"], canonicalize, canon_schema, backend)
    return clustered.select("_cluster_id", *keep).join(canon, "_cluster_id", "left")
