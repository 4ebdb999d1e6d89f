"""Gather operator: context-window reconstruction around each chunk.

Reference semantics: /root/reference/docetl/operations/gather.py:9-363 —
group chunks by ``doc_id_key``, sort by ``order_key``; for each chunk,
render ``{content_key}_rendered`` = previous-context section (head /
middle / tail subsets with "[... N characters skipped ...]" markers) +
main chunk between start/end markers + next-context section.

Spark realization: a per-document grouped pandas apply. Documents are the
natural partition unit (each group is one doc's chunk list, bounded by
doc length), so ``groupBy(doc_id).applyInPandas`` scales with the number
of documents; rendering is pure Python string work on an already-local
group. A window/collect_list formulation would move the same bytes —
grouped apply keeps it one shuffle with no row duplication.

Skew posture: the symmetric tail/head config takes the JVM window fast
path, whose frames are all O(n) streaming (whole-partition or running —
never a bounded-start/unboundedFollowing frame, which Spark recomputes
per row = O(chunks^2) per doc); a hot doc is one spill-capable window
task, not an OOM. The python renderer path (headers / middle sections /
summary keys) DOES materialize one doc's chunks as one pandas frame —
fine for split-produced chunk counts (doc_len / chunk_size), but don't
feed it a synthetic doc_id that collapses millions of chunks into one
group.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F, types as T


def _peripheral_parts(chunks, config, content_key, order_key) -> list[str]:
    """Mirrors process_peripheral_chunks (gather.py:215-292)."""
    parts: list[str] = []
    total = len(chunks)
    head_count = int(config.get("head", {}).get("count", 0))
    tail_count = int(config.get("tail", {}).get("count", 0))
    in_skip = False
    skip_chars = 0
    for i, chunk in enumerate(chunks):
        if i < head_count:
            section = "head"
        elif i >= total - tail_count:
            section = "tail"
        elif "middle" in config:
            section = "middle"
        else:
            n = len(chunk[content_key] or "")
            skip_chars = n if not in_skip else skip_chars + n
            in_skip = True
            continue
        if in_skip:
            parts.append(f"[... {skip_chars} characters skipped ...]")
            in_skip = False
            skip_chars = 0
        section_config = config.get(section, {})
        section_key = section_config.get("content_key", content_key)
        suffix = " (Summary)" if section_key != content_key else ""
        parts.extend((f"[Chunk {chunk[order_key]}{suffix}]", f"{chunk[section_key]}"))
    if in_skip:
        parts.append(f"[... {skip_chars} characters skipped ...]")
    return parts


def render_hierarchy_headers(current_chunk: dict, chunks: list[dict], doc_header_key: str) -> str:
    """Mirrors render_hierarchy_headers (gather.py:294-363): walk every
    chunk up to and including the current one, tracking the latest header
    per level (a header at level L clears all deeper levels); render the
    breadcrumb of levels ABOVE the current chunk's highest header as
    ``_Current Section:_ # A > ## B``. Chunks with no headers of their
    own render nothing."""
    def headers_of(chunk):
        hs = chunk.get(doc_header_key)  # a numpy array under Arrow: no truth value
        return [] if hs is None else [dict(h) if not isinstance(h, dict) else h for h in hs]

    current_headers = headers_of(current_chunk)
    if not current_headers:
        return ""
    levels = [h.get("level") for h in current_headers if h.get("level") is not None]
    highest_level = min(levels) if levels else None

    hierarchy: dict[int, str | None] = {}
    for chunk in chunks:
        for h in headers_of(chunk):
            header, level = h.get("header"), h.get("level")
            if header and level:
                hierarchy[level] = header
                for deeper in range(level + 1, len(hierarchy) + 1):
                    if deeper in hierarchy:
                        hierarchy[deeper] = None
    rendered = " > ".join(
        f"{'#' * level} {header}"
        for level, header in sorted(hierarchy.items())
        if header is not None and (highest_level is None or level < highest_level)
    )
    return f"_Current Section:_ {rendered}" if rendered else ""


def render_chunk(chunks: list[dict], idx: int, peripheral: dict, content_key: str,
                 order_key: str, main_start: str, main_end: str,
                 doc_header_key: str | None = None) -> str:
    """Mirrors render_chunk_with_context (gather.py:145-213), including
    the hierarchy-header breadcrumb when doc_header_key is configured."""
    if not peripheral:
        return chunks[idx][content_key]
    parts = ["--- Previous Context ---"]
    parts.extend(_peripheral_parts(chunks[:idx], peripheral.get("previous", {}), content_key, order_key))
    parts.append("--- End Previous Context ---\n")
    main = chunks[idx]
    if doc_header_key:
        headers = render_hierarchy_headers(main, chunks[: idx + 1], doc_header_key)
        if headers:
            parts.append(headers)
    parts.extend((f"{main_start}", f"{main[content_key]}", f"{main_end}", "\n--- Next Context ---"))
    parts.extend(_peripheral_parts(chunks[idx + 1:], peripheral.get("next", {}), content_key, order_key))
    parts.append("--- End Next Context ---")
    return "\n".join(parts)


def _window_fast_path_counts(peripheral: dict) -> tuple[int, int] | None:
    """(prev_tail, next_head) when the config is the common symmetric
    shape — previous={tail:{count:p}}, next={head:{count:n}}, no middle,
    no summary content_key overrides — else None."""
    if not peripheral or set(peripheral) - {"previous", "next"}:
        return None
    prev = peripheral.get("previous", {})
    nxt = peripheral.get("next", {})
    if set(prev) - {"tail"} or set(nxt) - {"head"}:
        return None
    if "content_key" in prev.get("tail", {}) or "content_key" in nxt.get("head", {}):
        return None
    return int(prev.get("tail", {}).get("count", 0)), int(nxt.get("head", {}).get("count", 0))


def _gather_window(
    df: DataFrame, content_key: str, doc_id_key: str, order_key: str,
    p: int, n: int, rendered_key: str, main_start: str, main_end: str,
) -> DataFrame:
    """Pure-expression rendering via lag/lead + windowed length sums —
    stays JVM-side (no Python), one shuffle on doc_id, and reproduces the
    python renderer byte-for-byte for the fast-path config."""
    w = W.partitionBy(doc_id_key).orderBy(order_key)
    c = F.col(content_key)
    parts: list[F.Column] = [F.lit("--- Previous Context ---")]
    # skip marker covers every chunk not shown — including ALL of them when
    # p == 0 (the python renderer accumulates unshown chunks into one marker)
    skip_prev = F.sum(F.length(c)).over(w.rowsBetween(W.unboundedPreceding, -(p + 1)))
    parts.append(
        F.when(skip_prev.isNotNull(),
               F.concat(F.lit("[... "), skip_prev.cast("string"), F.lit(" characters skipped ...]")))
    )
    if p > 0:
        for i in range(p, 0, -1):
            parts.append(
                F.when(F.lag(c, i).over(w).isNotNull(),
                       F.concat(F.lit("[Chunk "), F.lag(F.col(order_key), i).over(w).cast("string"),
                                F.lit("]\n"), F.lag(c, i).over(w)))
            )
    parts += [
        F.lit("--- End Previous Context ---\n"),
        F.lit(main_start), c, F.lit(main_end), F.lit("\n--- Next Context ---"),
    ]
    if n > 0:
        for i in range(1, n + 1):
            parts.append(
                F.when(F.lead(c, i).over(w).isNotNull(),
                       F.concat(F.lit("[Chunk "), F.lead(F.col(order_key), i).over(w).cast("string"),
                                F.lit("]\n"), F.lead(c, i).over(w)))
            )
    # NOT sum().over(rowsBetween(n+1, unboundedFollowing)): Spark's
    # unboundedFollowing frame recomputes the aggregate FROM SCRATCH for
    # every row (UnboundedFollowingWindowFunctionFrame) — O(chunks^2) per
    # document, minutes-per-task once a doc holds ~100k chunks. total -
    # running-prefix uses only O(n) frames (whole-partition + growing);
    # the count of rows beyond n following restores sum's empty-frame
    # NULL semantics (no rows -> no marker, all-empty chunks -> "[... 0
    # characters skipped ...]").
    whole = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    total_len = F.sum(F.length(c)).over(whole)
    prefix_incl = F.sum(F.length(c)).over(w.rowsBetween(W.unboundedPreceding, n))
    beyond = F.count(F.lit(1)).over(whole) - F.row_number().over(w) - F.lit(n)
    skip_next = F.when(beyond > 0, total_len - F.coalesce(prefix_incl, F.lit(0)))
    parts.append(
        F.when(skip_next.isNotNull(),
               F.concat(F.lit("[... "), skip_next.cast("string"), F.lit(" characters skipped ...]")))
    )
    parts.append(F.lit("--- End Next Context ---"))
    return df.withColumn(rendered_key, F.concat_ws("\n", *parts))


def gather(
    df: DataFrame,
    content_key: str,
    doc_id_key: str,
    order_key: str,
    *,
    peripheral_chunks: dict | None = None,
    main_chunk_start: str = "--- Begin Main Chunk ---",
    main_chunk_end: str = "--- End Main Chunk ---",
    doc_header_key: str | None = None,
) -> DataFrame:
    peripheral = peripheral_chunks or {}
    rendered_key = f"{content_key}_rendered"

    if not peripheral:
        # no context sections configured: rendered = the chunk itself
        return df.withColumn(rendered_key, F.col(content_key).cast("string"))

    # headers require the stateful per-doc walk: python renderer only
    fast = _window_fast_path_counts(peripheral) if doc_header_key is None else None
    if fast is not None:
        return _gather_window(df, content_key, doc_id_key, order_key,
                              fast[0], fast[1], rendered_key, main_chunk_start, main_chunk_end)

    out_schema = T.StructType(list(df.schema.fields) + [T.StructField(rendered_key, T.StringType(), True)])
    out_names = out_schema.fieldNames()

    def per_doc(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_key, kind="mergesort").reset_index(drop=True)
        chunks = pdf.to_dict("records")
        pdf[rendered_key] = [
            render_chunk(chunks, i, peripheral, content_key, order_key,
                         main_chunk_start, main_chunk_end, doc_header_key)
            for i in range(len(chunks))
        ]
        return pdf[out_names]

    return df.groupBy(doc_id_key).applyInPandas(per_doc, schema=out_schema)
