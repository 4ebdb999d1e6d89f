"""Rank operator: whole-dataset ordering by natural-language criteria.

Reference semantics: /root/reference/docetl/operations/rank.py:14-1109 —
initial ordering from an ``embedding`` rating (309), per-item ``likert``
LLM rating (523), or ``calibrated_embedding`` (1013-1109); optional
sliding-window LLM refinement under a ``rerank_call_budget`` (696-910);
output annotated with 1-based ``_rank`` (899-910), ``direction``
asc|desc.

Spark realization: scoring is distributed (embedding cosine as JVM
expressions / likert ratings via an Arrow-batched backend UDF); the
global ordering is a sort on the score; ``_rank`` = row_number. The
window-refinement loop is driver-coordinated over the head rows only
(it is inherently sequential and budget-bounded in the reference too —
rank.py:696-910), gated by ``refine_head_size``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F, types as T

from ..backend import ModelBackend
from ..operators.sample import cosine_sim
from ..session import widen_scan
from .resolve import embed_column
from .semantic import render_prompt, run_groups


def _likert_scores(
    df: DataFrame, prompt: str, backend: ModelBackend, *, out_col: str = "_score"
) -> DataFrame:
    """Per-item 1-7 likert rating from the backend (rank.py:523)."""
    out_schema = T.StructType(list(df.schema.fields) + [T.StructField(out_col, T.DoubleType(), True)])
    names = out_schema.fieldNames()

    def run(batches):
        for pdf in batches:
            rows = pdf.to_dict("records")
            scores = []
            for row in rows:
                rendered = render_prompt(prompt, {"input": row})
                ans = backend.complete(rendered, {"rating": "float"}, row)
                scores.append(float(ans.get("rating") or 0.0))
            pdf = pdf.copy()
            pdf[out_col] = scores
            yield pdf[names]

    return widen_scan(df).mapInPandas(run, schema=out_schema)


def _global_row_number(df: DataFrame, order: list, rank_col: str) -> DataFrame:
    """Distributed global 1-based rank. ``W.orderBy(...)`` without a
    partition key moves every row into ONE partition — fine at test
    scale, fatal at 100 TB. Implemented as the lit-1 case of
    stats._global_cumsum (the SINGLE home for the range-repartition +
    per-partition-run + driver-offset-map mechanism: persist-for-
    boundary-sampling discipline, cached-sort boundary pinning, and any
    future tie/precondition fix live there once). Requires a total
    order (callers pass tiebreak columns), so output is deterministic."""
    from ..functions.stats import _global_cumsum

    one = "_grn_one"
    clash = sorted({one, f"{one}_cum", "_pid"} & set(df.columns))
    if clash:
        raise ValueError(
            f"_global_row_number reserves column names {clash} — rename the inputs"
        )
    out = _global_cumsum(
        df.withColumn(one, F.lit(1).cast("decimal(38,0)")), order, [one]
    )
    return out.withColumn(
        rank_col, F.col(f"{one}_cum").cast("long")
    ).drop(one, f"{one}_cum")


def _global_row_number_with_total(
    df: DataFrame, order: list, rank_col: str
) -> tuple[DataFrame, int]:
    """``_global_row_number`` plus the exact total row count, for free:
    ``_global_cumsum`` already collects per-partition counts for the
    offset map, so the driver holds the grand total before any action
    runs. Callers that would otherwise attach the count via an extra
    aggregation + broadcast join (duplicating the whole rank subtree in
    the plan — the r11 plan audit measured customer_rfm at 968 Exchange
    nodes from exactly this doubling, nested three deep) can use the
    returned int as a literal instead."""
    from ..functions.stats import _global_cumsum

    one = "_grn_one"
    clash = sorted({one, f"{one}_cum", "_pid"} & set(df.columns))
    if clash:
        raise ValueError(
            f"_global_row_number reserves column names {clash} — rename the inputs"
        )
    out, totals = _global_cumsum(
        df.withColumn(one, F.lit(1).cast("decimal(38,0)")), order, [one],
        with_totals=True,
    )
    return (
        out.withColumn(rank_col, F.col(f"{one}_cum").cast("long"))
        .drop(one, f"{one}_cum"),
        int(totals[one]),
    )


def _calibrated_embedding_rank(
    df: DataFrame,
    backend: ModelBackend,
    *,
    prompt: str,
    embedding_keys: list[str],
    tiebreak: list[str] | None,
    rank_col: str,
    sample_size: int = 20,
) -> DataFrame:
    """calibrated_embedding ordering (rank.py:1013-1109): all-pairs
    LLM-vote (comparison-QURK) over a small sample -> sorted anchors;
    every row is assigned its most-similar anchor (broadcast anchor
    matrix + numpy per Arrow batch — never a crossJoin) and ordered by
    (anchor index asc, similarity desc)."""
    import numpy as np

    sample = [r.asDict(recursive=True) for r in df.limit(sample_size).collect()]
    if len(sample) <= 1:
        order = [F.col(c).asc() for c in (tiebreak or df.columns)]
        return _global_row_number(df, order, rank_col)

    # comparison-QURK: all-pairs votes, order anchors by wins (rank.py:195-307)
    wins = [0] * len(sample)
    for i in range(len(sample)):
        for j in range(i + 1, len(sample)):
            rendered = render_prompt(prompt, {"input1": sample[i], "input2": sample[j]})
            ans = backend.complete(rendered, {"prefer_second": "bool"}, (sample[i], sample[j]))
            if ans.get("prefer_second"):
                wins[j] += 1
            else:
                wins[i] += 1
    anchor_order = sorted(range(len(sample)), key=lambda k: (-wins[k], k))

    def _content(row: dict) -> str:
        return " ".join(str(row.get(k, "")) for k in embedding_keys)

    anchors = np.array(backend.embed([_content(sample[k]) for k in anchor_order]), dtype=float)
    anchors /= np.maximum(np.linalg.norm(anchors, axis=1, keepdims=True), 1e-12)
    bc = df.sparkSession.sparkContext.broadcast(anchors)

    emb = embed_column(df, embedding_keys, backend, out_col="_emb")
    out_schema = T.StructType(list(emb.schema.fields) + [
        T.StructField("_anchor_idx", T.LongType(), True),
        T.StructField("_anchor_sim", T.DoubleType(), True),
    ])
    names = out_schema.fieldNames()

    def assign(batches):
        A = bc.value
        for pdf in batches:
            if not len(pdf):
                yield pdf.reindex(columns=names)
                continue
            M = np.array(pdf["_emb"].tolist(), dtype=float)
            M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
            sims = M @ A.T
            pdf = pdf.copy()
            pdf["_anchor_idx"] = sims.argmax(axis=1).astype("int64")
            pdf["_anchor_sim"] = sims.max(axis=1)
            yield pdf[names]

    assigned = emb.mapInPandas(assign, schema=out_schema)
    order = [F.col("_anchor_idx").asc(), F.col("_anchor_sim").desc()]
    order += [F.col(c).asc() for c in (tiebreak or [])]
    ranked = _global_row_number(assigned, order, rank_col)
    return ranked.drop("_emb", "_anchor_idx", "_anchor_sim")


_MAX_DEFAULT_NUM_BATCHES = 20_000


def _default_num_batches(n: int, s: int) -> int:
    """The reference's default batch count N*(N-1)/(S*(S-1)), hard-capped:
    comparison-QURK is inherently O(N^2/S^2) model calls, and an
    uncapped default on a large frame would schedule millions of
    batches before the first call returned. Past the cap the ranking is
    still produced (fewer pairwise samples per item); callers wanting
    the full quadratic budget must pass ``num_batches`` explicitly."""
    want = max(1, (n * (n - 1)) // max(s * (s - 1), 1))
    if want > _MAX_DEFAULT_NUM_BATCHES:
        import logging

        logging.getLogger(__name__).warning(
            "rank(comparison): default num_batches %d capped at %d "
            "(n=%d, batch_size=%d); pass num_batches explicitly to raise",
            want, _MAX_DEFAULT_NUM_BATCHES, n, s,
        )
        return _MAX_DEFAULT_NUM_BATCHES
    return want


def _qurk_membership(keyed: DataFrame, n: int, s: int, num_batches: int, seed: int) -> DataFrame:
    """Batch membership WITHOUT the row x batch cross join.

    Each row makes ``draws = ceil(2*s*num_batches/n)`` candidate draws
    (md5 hash -> batch id), so the assignment table is O(num_batches*s)
    rows — the minimal size for s-row batches — instead of the
    O(n*num_batches) crossJoin (10^11 rows for a 100k-row frame at the
    default batch count). A per-batch window then keeps the top-s
    candidates by the same md5 priority as before. Every step is
    deterministic and DuckDB-replayable. Expected batch size before the
    cap is 2s, so batches are full s-row batches w.h.p.; a batch with
    fewer candidates is simply smaller (the reference's semantics don't
    depend on exact batch size — each batch is one ranking call)."""
    import math

    draws = min(num_batches, max(1, math.ceil(2.0 * s * num_batches / max(n, 1))))
    cand_batch = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("#", F.lit(seed), F.col("_j"), F.col("_row_key"))), 1, 8
            ),
            16, 10,
        ).cast("long") % num_batches
    )
    prio = F.conv(F.substring(F.md5(F.concat_ws("_", F.lit(seed), F.col("_batch"),
                                                F.col("_row_key"))), 1, 8), 16, 10).cast("long")
    return (
        keyed.select("*", F.explode(F.sequence(F.lit(0), F.lit(draws - 1))).alias("_j"))
        .withColumn("_batch", cand_batch)
        .drop("_j")
        # two draws can land in one batch: dedupe so no row double-counts
        .dropDuplicates(["_batch", "_row_key"])
        .withColumn("_prio", prio)
        .withColumn("_pos", F.row_number().over(
            W.partitionBy("_batch").orderBy(F.col("_prio"), F.col("_row_key"))))
        .filter(F.col("_pos") <= s)
        .drop("_prio", "_pos")
    )


def _comparison_qurk_rank(
    df: DataFrame,
    backend: ModelBackend,
    *,
    prompt: str,
    direction: str,
    tiebreak: list[str] | None,
    rank_col: str,
    batch_size: int = 10,
    num_batches: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """comparison (QURK human-powered-sort) method (rank.py:195-307):
    random batches of S items are each ranked by one model call;
    head-to-head wins are counted (position i in a ranked batch beats the
    S-1-i items below it); the final order is win count descending.

    Spark realization: batch membership is a DETERMINISTIC pseudo-random
    draw — each row hashes into a bounded number of candidate batches
    and a per-batch md5-priority window keeps the top S
    (``_qurk_membership``; the assignment table is O(num_batches*S)
    rows, never the row x batch cross join). Batch ranking runs
    DISTRIBUTED via ``semantic.run_groups`` — one backend call per
    batch, batches spread across executors and up to
    ``max_concurrency`` of a task's batches in flight — then win
    counting is a plain aggregation.
    num_batches defaults to the reference's N*(N-1)/(S*(S-1)), hard-
    capped at ``_MAX_DEFAULT_NUM_BATCHES`` (each batch is one model
    call; explicit num_batches overrides).
    """
    n = df.count()
    if n <= 1:
        return df.withColumn(rank_col, F.lit(1).cast("long"))
    s = min(batch_size, n)
    if num_batches is None:
        num_batches = _default_num_batches(n, s)

    key = F.concat_ws("||", *[F.col(c).cast("string") for c in df.columns])
    keyed = df.withColumn("_row_key", key)
    member = _qurk_membership(keyed, n, s, num_batches, seed)

    data_cols = [c for c in df.columns]
    out_schema = T.StructType(
        [T.StructField("_row_key", T.StringType(), False),
         T.StructField("_wins", T.LongType(), False)]
    )

    def rank_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = pdf.to_dict("records")
        docs = [{c: r[c] for c in data_cols} for r in rows]
        rendered = render_prompt(prompt, {"inputs": docs, "direction": direction})
        ans = backend.complete(rendered, {"ranking": "list[int]"}, docs)
        order = ans.get("ranking")
        if not isinstance(order, list) or not all(isinstance(i, int) for i in order):
            order = list(range(len(docs)))  # malformed ranking: no-op batch
        # position i beats everyone below: S-1-i pairwise wins
        wins = {}
        for pos, idx in enumerate(order):
            if 0 <= idx < len(rows):
                wins[rows[idx]["_row_key"]] = len(order) - 1 - pos
        return pd.DataFrame(
            [{"_row_key": r["_row_key"], "_wins": wins.get(r["_row_key"], 0)} for r in rows]
        )

    win_counts = (
        run_groups(member, ["_batch"], rank_batch, out_schema, backend)
        .groupBy("_row_key").agg(F.sum("_wins").alias("_wins"))
    )
    scored = keyed.join(win_counts, "_row_key", "left").fillna({"_wins": 0})
    order = [F.col("_wins").desc()] + [F.col(c).asc() for c in (tiebreak or [])]
    return _global_row_number(scored, order, rank_col).drop("_row_key", "_wins")


def _picky_window_refine(
    head: list[dict],
    backend: ModelBackend,
    *,
    prompt: str,
    budget: int,
    num_top_items: int = 3,
    overlap_fraction: float = 0.5,
) -> list[dict]:
    """The reference's sliding picky-window pass (rank.py:696-910):
    windows slide from the tail of the head toward the front; each window
    costs ONE model call that picks ``num_top_items`` docs, which are
    moved to the window's start via position swaps. Window count equals
    the call budget by construction (step = k / (budget-1)); an explicit
    call counter enforces the budget even on degenerate geometry."""
    k = len(head)
    if k <= 1 or budget <= 0:
        return head
    step = max(1, int(k / (budget - 1 or 1)))
    window_size = min(
        k,
        max(num_top_items, int(step / (1 - overlap_fraction)))
        if overlap_fraction < 1 else step * 2,
    )
    current = list(head)
    calls = 0
    for i in range(k - 1, 0, -step):
        if calls >= budget:
            break
        end = i
        start = max(0, end - window_size)
        if start == 0:
            end = window_size
        window_idx = list(range(start, min(end, k)))
        if len(window_idx) < num_top_items:
            continue
        window_docs = [current[j] for j in window_idx]
        rendered = render_prompt(prompt, {"inputs": window_docs, "k": num_top_items})
        ans = backend.complete(rendered, {"picks": "list[int]"}, window_docs)
        calls += 1
        picks = [p for p in (ans.get("picks") or []) if isinstance(p, int) and 0 <= p < len(window_docs)]
        picks = list(dict.fromkeys(picks))[:num_top_items]
        # move picked docs to the window start (swap semantics: every doc
        # stays in exactly one slot, cardinality preserved)
        for target_off, pick in enumerate(picks):
            if target_off >= len(window_idx):
                break
            target_pos = window_idx[target_off]
            cur_pos = next(j for j, d in enumerate(current) if d is window_docs[pick])
            if cur_pos != target_pos:
                current[cur_pos], current[target_pos] = current[target_pos], current[cur_pos]
        if start == 0:
            break
    return current


def rank(
    df: DataFrame,
    backend: ModelBackend,
    *,
    method: str = "embedding",
    prompt: str | None = None,
    criteria_query: str | None = None,
    embedding_keys: list[str] | None = None,
    direction: str = "desc",
    tiebreak: list[str] | None = None,
    rank_col: str = "_rank",
    refine_head_size: int = 0,
    rerank_call_budget: int = 0,
    calibration_sample: int = 20,
    batch_size: int = 10,
    num_batches: int | None = None,
    num_top_items: int = 3,
    overlap_fraction: float = 0.5,
) -> DataFrame:
    """Order the whole dataset; annotate 1-based ``rank_col``.

    method='embedding': score = cosine(item embedding, criteria_query
    embedding). method='likert': per-item LLM rating via ``prompt``.
    method='calibrated_embedding': pairwise-LLM-sort a small sample into
    anchors, then order every row by (nearest anchor, similarity)
    (rank.py:1013-1109). method='comparison': QURK head-to-head batch
    ranking (rank.py:195-307), distributed one-call-per-batch.
    """
    if method == "comparison":
        if not prompt:
            raise ValueError("comparison rank needs a prompt")
        return _comparison_qurk_rank(
            df, backend, prompt=prompt, direction=direction, tiebreak=tiebreak,
            rank_col=rank_col, batch_size=batch_size, num_batches=num_batches,
        )
    if method == "embedding":
        if not criteria_query or not embedding_keys:
            raise ValueError("embedding rank needs criteria_query + embedding_keys")
        scored = embed_column(df, embedding_keys, backend, out_col="_emb")
        qvec = backend.embed([criteria_query])[0]
        score = cosine_sim(F.col("_emb"), F.lit([float(x) for x in qvec]).cast("array<double>"))
        scored = scored.withColumn("_score", score).drop("_emb")
    elif method == "likert":
        if not prompt:
            raise ValueError("likert rank needs a prompt")
        scored = _likert_scores(df, prompt, backend)
    elif method == "calibrated_embedding":
        if not prompt or not embedding_keys:
            raise ValueError("calibrated_embedding rank needs prompt + embedding_keys")
        return _calibrated_embedding_rank(
            df, backend, prompt=prompt, embedding_keys=embedding_keys,
            tiebreak=tiebreak, rank_col=rank_col, sample_size=calibration_sample,
        )
    else:
        raise ValueError(f"unknown rank method {method!r}")

    order = [F.col("_score").desc() if direction == "desc" else F.col("_score").asc()]
    order += [F.col(c).asc() for c in (tiebreak or [])]
    ranked = _global_row_number(scored, order, rank_col).drop("_score")

    if refine_head_size and rerank_call_budget and prompt:
        # driver-coordinated sliding picky-window refinement over the head
        # (rank.py:696-910): each window = ONE model call picking the top
        # few docs, which move to the window start; window count == the
        # call budget. The head collect is gated by refine_head_size (the
        # reference's k), keeping the driver fetch bounded.
        head = [r.asDict() for r in
                ranked.filter(F.col(rank_col) <= refine_head_size)
                .orderBy(rank_col).collect()]
        head = _picky_window_refine(
            head, backend, prompt=prompt, budget=rerank_call_budget,
            num_top_items=num_top_items, overlap_fraction=overlap_fraction,
        )
        spark = df.sparkSession
        id_like = [c for c in df.columns]
        rows = [{**{k: r[k] for k in id_like}, rank_col: i + 1}
                for i, r in enumerate(head)]
        # Arrow literal frame (JVM LocalRelation) — the pickled-RDD path
        # pays a Python-worker round trip per downstream action (r11
        # ann_ivf_persisted finding). Gated on flat atomic non-temporal
        # schemas (r12, ADVICE r11: temporal columns can convert to
        # DIFFERENT values via Arrow without raising — the Exception
        # fallback alone can't catch that); everything else takes the
        # portable pickled path explicitly.
        from ..session import arrow_literal_ok

        new_ranks = None
        if arrow_literal_ok(ranked.schema):
            try:
                import pyarrow as pa
                from pyspark.sql.pandas.types import to_arrow_schema

                new_ranks = spark.createDataFrame(
                    pa.Table.from_pylist(rows, schema=to_arrow_schema(ranked.schema)),
                    schema=ranked.schema,
                )
            except Exception:
                new_ranks = None
        if new_ranks is None:
            new_ranks = spark.createDataFrame(rows, schema=ranked.schema)
        tail = ranked.filter(F.col(rank_col) > refine_head_size)
        ranked = new_ranks.unionByName(tail)
    return ranked
