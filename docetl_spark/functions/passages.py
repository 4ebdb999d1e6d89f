"""Passage-level deduplication: sub-document duplicate detection and
removal — the layer between exact whole-doc dedup (dedup.exact_dedup)
and fuzzy whole-doc near-dup (MinHash/SimHash).

Two public techniques, both standard in large-scale training-data
pipelines:

- **Duplicate-passage removal** (C4-style): chunk every document into
  fixed-size token windows, keep exactly ONE occurrence of every
  distinct chunk corpus-wide (first by (doc_id, pos)), and reassemble
  each document from its surviving chunks. Removes boilerplate that
  whole-doc dedup can't see (headers, license blocks, templated spans
  repeated across otherwise-distinct pages).
- **Sampled k-gram fingerprinting** (MOSS/winnowing-family): hash every
  k-token gram, keep the deterministic 1/2^h sample whose md5 hex
  starts with a chosen prefix set, and join documents sharing >= m
  sampled fingerprints. Detects documents with long verbatim overlaps
  (exact-substring duplication) without comparing full texts.
- **Exact-substring span dedup** (Lee et al. 2022, "Deduplicating
  Training Data Makes Language Models Better"): hash every OVERLAPPING
  k-token window, keep the globally-first occurrence of each distinct
  window, merge every other occurrence's [pos, pos+k) coverage into
  per-document duplicated spans, and cut exactly those spans from the
  text. Unlike the C4 chunk pass this removes duplicated text at
  ARBITRARY offsets (the common case: a quote, license block, or
  syndicated paragraph pasted mid-document), not just aligned chunks.

Scale posture (the 100 TB question):
- chunking / gram hashing is one Arrow-batched pandas pass per
  partition (same shape as functions/text.py `shingles`, which the
  scale probe measured linear; a sequence/transform expression form
  would re-tokenize per position under CollapseProject — see the
  shingles docstring);
- the keep-first decision is `groupBy(chunk).agg(min(struct(id,pos)))`
  — a map-side-combinable partial aggregation, NOT a row_number
  window, so a boilerplate chunk repeated a billion times partial-aggs
  down to one row per map task instead of hot-keying one reducer;
- fingerprint pairing is an equi-join on the sampled md5 key; common
  grams (stop-phrases) are suppressed by `max_doc_freq` BEFORE the
  self-join, bounding any bucket's pair fan-out (the same hot-key cap
  MOSS applies to over-common fingerprints);
- md5 hex keys (not xxhash64) so every step is reproducible in ANSI
  SQL / DuckDB for the correctness oracle.

Reference semantics: the reference has no sub-document dedup operator
(SURVEY.md §2 — its dedup story is resolve/split); this module is part
of the beyond-reference training-data layer like functions/dedup.py.
"""

from __future__ import annotations

import hashlib
import math
import re

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

_WS = re.compile(r"\s+")


def _toks(text: str | None) -> list[str]:
    """Whitespace tokens, empties dropped — the python mirror of the SQL
    contract `list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')`."""
    return [t for t in _WS.split((text or "").strip()) if t]


def passage_chunks_py(text: str | None, chunk_tokens: int) -> list[str]:
    """Non-overlapping ``chunk_tokens``-token windows, in order; the last
    chunk may be short. Empty/whitespace text -> no chunks."""
    toks = _toks(text)
    return [
        " ".join(toks[i * chunk_tokens : (i + 1) * chunk_tokens])
        for i in range(math.ceil(len(toks) / chunk_tokens))
    ]


def passage_chunks(df: DataFrame, text_col: str, *, id_col: str, chunk_tokens: int = 50) -> DataFrame:
    """(id_col, pos, chunk) — one row per chunk, pos 0-based in-doc order.

    One Arrow pass per partition; the explode is the only fan-out."""
    @F.pandas_udf(T.ArrayType(T.StringType()))
    def ch(s: pd.Series) -> pd.Series:
        return s.map(lambda t: passage_chunks_py(t, chunk_tokens))

    from ..session import widen_scan

    return (
        widen_scan(df)
        .select(id_col, F.posexplode(ch(F.col(text_col))).alias("pos", "chunk"))
        .withColumn("pos", F.col("pos").cast("long"))
    )


def passage_dedup(
    df: DataFrame, text_col: str, *, id_col: str, chunk_tokens: int = 50
) -> DataFrame:
    """Corpus-wide duplicate-passage removal (C4-style).

    Every distinct chunk keeps exactly one occurrence — the globally
    first by (id, pos) — and each document is reassembled from its
    surviving chunks in original order. Documents whose every chunk was
    claimed elsewhere come back with empty ``clean_text``.

    Returns (id_col, clean_text, n_chunks_kept, n_chunks_total).

    Plan: chunk (Arrow pass) -> groupBy(chunk) partial-agg min(struct
    (id, pos)) [skew-safe keeper election, no window] -> groupBy(id)
    rebuild -> left join back so fully-deduped docs survive. Two
    shuffles, both map-side combined.
    """
    chunks = passage_chunks(df, text_col, id_col=id_col, chunk_tokens=chunk_tokens)
    # keeper election: min over a (id, pos) struct is lexicographic —
    # identical to ORDER BY id, pos LIMIT 1 per chunk, but partial-agg
    keep = (
        chunks.groupBy("chunk")
        .agg(F.min(F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))).alias("k"))
        .select(F.col("k.i").alias(id_col), F.col("k.p").alias("pos"), "chunk")
    )
    rebuilt = keep.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))), lambda s: s["chunk"]
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_chunks_kept"),
    )
    n_total = F.ceil(
        F.size(F.filter(F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"), lambda t: t != ""))
        / F.lit(float(chunk_tokens))
    ).cast("long")
    return (
        df.select(id_col, n_total.alias("n_chunks_total"))
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_chunks_kept", F.lit(0)).cast("long").alias("n_chunks_kept"),
            "n_chunks_total",
        )
    )


_TOKENIZE_SQL = (
    "filter(split(trim(coalesce({c}, '')), '\\\\s+'), t -> t != '')"
)


def substring_windows(
    df: DataFrame, text_col: str, *, id_col: str, min_tokens: int = 8
) -> DataFrame:
    """(id_col, pos, wh) — md5 of every OVERLAPPING ``min_tokens``-token
    window, pos = 0-based start token. Docs with < min_tokens tokens
    emit nothing.

    Pure JVM expression chain (split -> transform/slice/md5 ->
    posexplode): O(tokens * k) codegen'd work per row, no Python. The
    `sequence` upper bound is guarded so short docs never build a
    descending sequence (Spark's sequence(0, -n) counts DOWN)."""
    k = int(min_tokens)
    if k < 1:
        raise ValueError(f"min_tokens must be >= 1, got {min_tokens}")
    from ..session import widen_scan

    # alias the text column to a fixed internal name BEFORE the SQL
    # interpolation: a column name needing backticks (space, hyphen,
    # dotted) would break _TOKENIZE_SQL parsing — the hazard the
    # gap_fill/cohort reserved-name aliasing already guards against
    tk = F.expr(_TOKENIZE_SQL.format(c="_txt"))
    win = F.expr(
        f"CASE WHEN size(_tk) >= {k} THEN "
        f"transform(sequence(0, size(_tk) - {k}), "
        f"i -> md5(concat_ws(' ', slice(_tk, i + 1, {k})))) "
        f"ELSE array() END"
    )
    # widen: the O(tokens*k) hash work otherwise runs on however few
    # partitions the scan yields (ONE for a small parquet — measured
    # 0.74s single-core vs ~0.1s wide at sf0.1); a real multi-split
    # scan skips the repartition (widen_scan contract)
    return (
        widen_scan(df.select(id_col, F.col(text_col).alias("_txt")))
        .select(id_col, tk.alias("_tk"))
        .select(id_col, F.posexplode(win).alias("pos", "wh"))
    )


def substring_dedup(
    df: DataFrame, text_col: str, *, id_col: str, min_tokens: int = 8
) -> DataFrame:
    """Corpus-wide exact-substring span dedup (Lee et al. 2022 family).

    Every distinct ``min_tokens``-token window keeps exactly one
    occurrence — the globally first by (id, pos) — and every OTHER
    occurrence marks its k token positions as duplicated. Overlapping
    marked windows merge naturally (position-set union), so a 40-token
    verbatim span repeated elsewhere is cut as one contiguous hole, and
    within-document self-repetition past the first occurrence is cut
    too.

    Returns (id_col, n_tokens, dup_tokens, dup_frac, clean_text) for
    EVERY input document; clean_text is the original whitespace-token
    sequence with duplicated positions removed (possibly '' when the
    whole doc is covered).

    Plan / 100 TB posture: window hashing is a codegen'd
    transform+slice+md5 expression (no Python); the keeper election is
    `groupBy(wh).agg(min(struct(id, pos)))` — map-side combinable, so a
    boilerplate gram repeated a billion times partial-aggs per map task
    instead of hot-keying a reducer (same design as passage_dedup); the
    occurrence<->keeper comparison is an equi-join on the 128-bit md5
    key (AQE skew-split handles mega-common grams); coverage explodes
    dup occurrences k-fold then collect_set's per doc — bounded by doc
    length, never by corpus size. Three shuffles total (election, join
    back, per-doc coverage), all on hashed keys.

    md5 (not xxhash64) so every step replays exactly in DuckDB for the
    correctness oracle.

    The source is scanned three times (window derivation feeds both
    sides of the keeper join, plus the final rebuild), column-pruned to
    (id, text) each time. That is deliberate: materializing the
    exploded window table to avoid re-derivation would persist
    ~n_tokens x 32-byte rows — larger than the corpus itself — so
    re-scanning the pruned parquet is the cheaper side of the tradeoff
    at 100 TB (callers with a hot cached corpus can pass a cached df)."""
    k = int(min_tokens)
    win = substring_windows(df, text_col, id_col=id_col, min_tokens=k)
    keep = win.groupBy("wh").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))).alias("k")
    )
    dup = (
        win.join(keep, "wh")
        .filter(~((F.col(id_col) == F.col("k.i")) & (F.col("pos") == F.col("k.p"))))
        .select(id_col, "pos")
    )
    covered = (
        dup.select(
            id_col, F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))).alias("cpos")
        )
        .groupBy(id_col)
        .agg(F.collect_set("cpos").alias("_cov"))
    )
    from ..session import widen_scan

    # same fixed-alias guard as substring_windows: never interpolate a
    # user column name into the tokenize SQL
    tk = F.expr(_TOKENIZE_SQL.format(c="_txt"))
    base = widen_scan(df.select(id_col, F.col(text_col).alias("_txt"))).select(
        id_col, tk.alias("_tk")
    )
    n_tokens = F.size("_tk").cast("long")
    cov = F.coalesce(F.col("_cov"), F.expr("array()").cast("array<int>"))
    dup_tokens = F.size(cov).cast("long")
    # kept positions via hash-based array_except (O(n + |cov|)), NOT an
    # array_contains scan per token (O(n * |cov|) — quadratic on a
    # mostly-duplicated mega-doc). array_except preserves first-array
    # order and sequence() is ascending, so token order survives; the
    # size guard keeps sequence() from counting DOWN on empty docs.
    kept = F.when(
        F.size("_tk") > 0,
        F.array_except(F.sequence(F.lit(0), F.size("_tk") - 1), cov),
    ).otherwise(F.expr("array()").cast("array<int>"))
    clean = F.concat_ws(
        " ", F.transform(kept, lambda p: F.element_at("_tk", p + 1))
    )
    return base.join(covered, id_col, "left").select(
        id_col,
        n_tokens.alias("n_tokens"),
        dup_tokens.alias("dup_tokens"),
        F.when(n_tokens == 0, F.lit(0.0))
        .otherwise(dup_tokens.cast("double") / n_tokens)
        .alias("dup_frac"),
        clean.alias("clean_text"),
    )


def sampled_gram_fps_py(
    text: str | None, k: int, prefixes: tuple[str, ...]
) -> list[str]:
    """Distinct md5 hex fingerprints of every k-token gram whose hex
    starts with one of ``prefixes`` (deterministic 1/16-per-hex-char
    sampling). Docs with < k tokens emit nothing."""
    toks = _toks(text)
    if len(toks) < k:
        return []
    out: set[str] = set()
    for i in range(len(toks) - k + 1):
        h = hashlib.md5(" ".join(toks[i : i + k]).encode("utf-8")).hexdigest()
        if h.startswith(prefixes):
            out.add(h)
    return sorted(out)


def sampled_gram_fps(
    df: DataFrame,
    text_col: str,
    *,
    id_col: str,
    k: int = 8,
    sample_prefixes: tuple[str, ...] = ("0",),
) -> DataFrame:
    """(id_col, fp) — distinct sampled k-gram fingerprints per doc."""
    prefixes = tuple(sample_prefixes)

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def fps(s: pd.Series) -> pd.Series:
        return s.map(lambda t: sampled_gram_fps_py(t, k, prefixes))

    from ..session import widen_scan

    return widen_scan(df).select(id_col, F.explode(fps(F.col(text_col))).alias("fp"))


def _fp_pairs(
    fps: DataFrame, id_col: str, *, min_common: int, max_doc_freq: int | None
) -> DataFrame:
    """(id_a, id_b, n_common) from a (id, fp) table — the shared pair
    shape behind gram_fingerprint_pairs and winnowed_pairs.

    ``max_doc_freq`` drops fingerprints present in more than that many
    documents BEFORE the self-join (boilerplate-gram suppression): a
    fingerprint in d docs fans out to d*(d-1)/2 pairs, so the cap
    bounds the join's worst bucket — at corpus scale leave it set.

    r11 optimization (guide §2.3/§4.2): the fingerprint table used to
    be referenced three times (doc-freq aggregate + both self-join
    sides), re-running the whole gram-hash derivation — an Arrow UDF
    for sampled fps, the substring_windows + winnow window chain for
    winnowed fps — once per branch. The doc-freq cap is now a count
    window over the SAME fp partitioning the self-join shuffles on
    (one exchange, no agg + join-back; the cap still bounds the pair
    fan-out). Skew caveat (r12, ADVICE r11): the window buffers each
    fp's UNCAPPED rows in one task before the filter, whereas the old
    agg + broadcast-semi-join could drop hot-fp rows before they ever
    shuffled on fp — for a boilerplate gram in millions of docs this is
    a linear (not quadratic) straggler/spill exposure the old shape
    avoided. sf1 evidence holds for the window form (1.9-2.6x at 10x);
    at corpus scale with known boilerplate, a salted two-phase count or
    the agg + broadcast-semi-join is the escape hatch. The capped table
    persists (evictable storage, release handle attached) so the hash
    chain runs ONCE and both join sides read the cache."""
    from pyspark.sql import Window as W

    if max_doc_freq is not None:
        wfp = W.partitionBy("fp")
        fps = (
            fps.withColumn("_df", F.count(F.lit(1)).over(wfp))
            .filter(F.col("_df") <= max_doc_freq)
            .drop("_df")
        )
    fps = fps.persist()
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    out = (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    out._docetl_cached_input = fps  # release: .unpersist() when done
    return out


def gram_fingerprint_pairs(
    df: DataFrame,
    text_col: str,
    *,
    id_col: str,
    k: int = 8,
    sample_prefixes: tuple[str, ...] = ("0",),
    min_common: int = 2,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """(id_a, id_b, n_common) — document pairs sharing >= ``min_common``
    sampled k-gram fingerprints; exact-substring overlap candidates.
    Boilerplate suppression via ``max_doc_freq`` (see _fp_pairs)."""
    fps = sampled_gram_fps(
        df, text_col, id_col=id_col, k=k, sample_prefixes=sample_prefixes
    )
    return _fp_pairs(fps, id_col, min_common=min_common, max_doc_freq=max_doc_freq)


def winnowed_gram_fps(
    df: DataFrame, text_col: str, *, id_col: str, k: int = 5, window: int = 4
) -> DataFrame:
    """(id_col, fp) — winnowing fingerprints (Schleimer/Wilkerson/Aiken
    2003, the actual MOSS selection rule): hash every k-token gram, then
    in every sliding window of ``window`` consecutive gram positions
    keep the minimum hash (rightmost on ties), distinct per document.

    Guarantee the hex-prefix sampling in :func:`sampled_gram_fps` can't
    give: any verbatim overlap of at least ``window + k - 1`` tokens
    shares at least one fingerprint — no probabilistic miss. Expected
    density ~= 2/(window+1) of gram positions.

    Plan: gram hashing is the same codegen'd transform/slice/md5 chain
    as substring_windows; the winnow min is ONE bounded per-doc window
    frame (``rowsBetween(0, window-1)`` over gram positions — state
    O(window), task bounded by doc length); distinct is a partial-agg.
    md5 hex compares identically in Spark and DuckDB, so the selection
    replays exactly for the oracle."""
    if k < 1 or window < 1:
        raise ValueError(f"winnowed_gram_fps: k and window must be >= 1 (got {k}, {window})")
    grams = substring_windows(df, text_col, id_col=id_col, min_tokens=k)
    from pyspark.sql import Window as W

    w_doc = W.partitionBy(id_col).orderBy("pos")
    n_grams = F.count(F.lit(1)).over(w_doc.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
    frame = w_doc.rowsBetween(0, window - 1)
    # min by (hash asc, pos desc): struct comparison is lexicographic in
    # both engines; -pos makes ties pick the RIGHTMOST gram (the
    # published rule, which stabilizes selection across windows)
    pick = F.min(F.struct(F.col("wh").alias("h"), (-F.col("pos")).alias("np"))).over(frame)
    return (
        grams.withColumn("_n", n_grams)
        .withColumn("_pick", pick)
        # only FULL windows select (start pos <= n_grams - window);
        # shorter docs (< window grams) keep their global min once
        .filter((F.col("pos") <= F.col("_n") - window) | (F.col("pos") == 0))
        .select(id_col, F.col("_pick.h").alias("fp"))
        .distinct()
    )


def winnowed_pairs(
    df: DataFrame,
    text_col: str,
    *,
    id_col: str,
    k: int = 5,
    window: int = 4,
    min_common: int = 2,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """(id_a, id_b, n_common) — document pairs sharing >= ``min_common``
    winnowing fingerprints. Same equi-join + boilerplate-cap shape as
    :func:`gram_fingerprint_pairs` (shared _fp_pairs), but with MOSS's
    deterministic detection guarantee instead of hex-prefix sampling."""
    fps = winnowed_gram_fps(df, text_col, id_col=id_col, k=k, window=window)
    return _fp_pairs(fps, id_col, min_common=min_common, max_doc_freq=max_doc_freq)


def incremental_dedup(
    new_df: DataFrame,
    store_df: DataFrame,
    text_col: str,
    *,
    id_col: str,
    store_is_fingerprints: bool = False,
) -> DataFrame:
    """Snapshot-incremental exact dedup: keep new rows whose normalized
    fingerprint is neither in the existing corpus/store nor claimed by
    an earlier new row (first by id_col within the batch).

    ``store_df`` is either raw docs (fingerprinted here) or — the
    incremental-ingest shape at scale — a persisted one-column
    ``fingerprint`` table (`store_is_fingerprints=True`): the store
    never re-reads corpus text, the anti-join runs on 128-bit md5 keys
    only, and the updated store is `store ∪ kept.fingerprint`.
    """
    from .text import fingerprint

    fp = fingerprint(F.col(text_col))
    if store_is_fingerprints:
        store = store_df.select(F.col("fingerprint").alias("_fp")).distinct()
    else:
        store = store_df.select(fingerprint(F.col(text_col)).alias("_fp")).distinct()
    from pyspark.sql import Window as W

    keyed = new_df.withColumn("_fp", fp)
    first_in_batch = (
        keyed.withColumn(
            "_rn", F.row_number().over(W.partitionBy("_fp").orderBy(id_col))
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return first_in_batch.join(store, "_fp", "left_anti").drop("_fp")
