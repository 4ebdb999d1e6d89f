"""Training-data pipeline operators beyond the reference's inventory:
sequence packing, benchmark-contamination checks, and temperature
(data-mixing) sampling. These are the ops a 100 TB pretraining corpus
pipeline runs after dedup/quality filtering; all are pure-expression
Spark (no Python in the hot path) and every driver query has a DuckDB
oracle.

Scale posture:
- ``pack_sequences`` windows are partitioned by shard — state per task
  is one shard's running token count, never a global sort.
- ``ngram_overlap`` broadcasts the (small) benchmark n-gram set; the
  corpus side streams through an equi-join on an md5-derived key.
- ``sample_temperature`` computes per-group rates from a tiny
  aggregate, then filters with a deterministic hash Bernoulli — one
  scan, no shuffle of the data itself.
"""

from __future__ import annotations

import hashlib
import re as _re

import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F, types as T

from .stats import bounded_global_window
from .text import token_count

# ASCII \s only, matching JVM regex \s and DuckDB/RE2 semantics — a
# unicode-aware split would diverge from the SQL oracle on exotic spaces
_ASCII_WS = _re.compile(r"\s+", _re.ASCII)
_ASCII_WS_CHARS = " \t\n\r\f\v"


def _gram_keys_py(text: str | None, *, n: int, lowercase: bool) -> list[str]:
    """Distinct word-n-gram keys (md5 low-64 prefixes) in one
    tokenization pass. The expression formulation (sequence/transform/
    slice over a split() column) re-inlines the tokenizer at every gram
    position under CollapseProject — measured 6x slower at sf0.1 (same
    pitfall as text.shingles)."""
    t = (text or "").strip(_ASCII_WS_CHARS)
    if lowercase:
        t = t.lower()
    if not t:
        return []
    # drop empty tokens so the gram set is independent of how the engine
    # trims edges (DuckDB trim() strips spaces only; a leading \t or \n
    # would otherwise give the oracle an extra '' token)
    toks = [w for w in _ASCII_WS.split(t) if w]
    if len(toks) < n:
        return []
    return list(
        dict.fromkeys(
            hashlib.md5(" ".join(toks[i : i + n]).encode("utf-8")).hexdigest()[:16]
            for i in range(len(toks) - n + 1)
        )
    )


def _gram_keys_udf(n: int, lowercase: bool):
    @F.pandas_udf(T.ArrayType(T.StringType()))
    def ngram_keys(s: pd.Series) -> pd.Series:
        return s.map(lambda t: _gram_keys_py(t, n=n, lowercase=lowercase))

    return ngram_keys


def _bench_gram_keys(benchmark: DataFrame, *, bench_text: str, n: int, lowercase: bool) -> DataFrame:
    from ..session import widen_scan

    return (
        widen_scan(benchmark)
        .select(F.explode(_gram_keys_udf(n, lowercase)(F.col(bench_text).cast("string"))).alias("_g"))
        .distinct()
    )


def pack_sequences(
    df: DataFrame,
    *,
    budget: int,
    text_col: str = "text",
    token_col: str | None = None,
    id_cols: list[str] | None = None,
    order_cols: list[str] | None = None,
    shard_expr: F.Column | None = None,
    n_shards: int = 8,
) -> DataFrame:
    """Concat-and-chunk sequence packing (GPT-style): documents are laid
    end-to-end in a deterministic order within each shard, and the token
    stream is cut every ``budget`` tokens. A document whose span crosses
    a cut contributes pieces to consecutive sequences — no padding, no
    bin-packing heuristics, exactly the streaming-concat shape most
    pretraining pipelines use.

    Output: one row per (document, sequence) piece with
    ``shard, seq_id`` (sequence key within shard), ``doc_tok_start/
    doc_tok_end`` (token span of the piece inside the document,
    end-exclusive) and ``seq_off`` (where the piece lands inside the
    sequence).

    Scale: the cumulative sum is a window partitioned BY SHARD, so each
    task holds one shard's ordering — shards bound both the sort and
    the window state, and more shards = more parallelism (the standard
    data-parallel packing layout). The piece explosion is
    ``explode(sequence(...))`` — pure JVM.
    """
    ids = id_cols or [df.columns[0]]
    order = order_cols or ids
    toks = F.col(token_col) if token_col else token_count(F.col(text_col))
    shard = (shard_expr if shard_expr is not None else F.pmod(F.xxhash64(*ids), F.lit(n_shards))).cast("long")

    # keep order_cols in the projection — ordering by a non-id column
    # (key by id, order by time) must resolve in the window below
    carry = list(dict.fromkeys([*ids, *order]))
    base = df.select(*carry, shard.alias("shard"), toks.cast("long").alias("_n_tok")).filter(
        F.col("_n_tok") > 0
    )
    w = W.partitionBy("shard").orderBy(*[F.col(c).asc() for c in order])
    spanned = base.withColumn("_end", F.sum("_n_tok").over(w)).withColumn(
        "_start", F.col("_end") - F.col("_n_tok")
    )
    b = F.lit(int(budget))
    # integer DIV, not float division: token offsets at corpus scale
    # exceed double's exact-integer range
    first_seq = F.expr(f"_start DIV {int(budget)}")
    last_seq = F.expr(f"(_end - 1) DIV {int(budget)}")
    pieces = spanned.withColumn("seq_id", F.explode(F.sequence(first_seq, last_seq)))
    piece_start = F.greatest(F.col("_start"), F.col("seq_id") * b)
    piece_end = F.least(F.col("_end"), (F.col("seq_id") + 1) * b)
    return pieces.select(
        *ids,
        "shard",
        "seq_id",
        (piece_start - F.col("_start")).alias("doc_tok_start"),
        (piece_end - F.col("_start")).alias("doc_tok_end"),
        (piece_start - F.col("seq_id") * b).alias("seq_off"),
    )


def ngram_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 13,
    corpus_id: str = "doc_id",
    corpus_text: str = "text",
    bench_text: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """Benchmark-contamination check: for every corpus document, how many
    of its distinct word n-grams appear anywhere in the benchmark set.
    The classic pretraining decontamination pass (13-gram overlap).

    Output: ``corpus_id, n_ngrams`` (distinct n-grams in the doc),
    ``n_overlap`` (those also in the benchmark), ``overlap_ratio``.
    Documents shorter than ``n`` tokens have ``n_ngrams = 0``.

    Scale: the benchmark n-gram key set is tiny (benchmarks are MBs, the
    corpus is TBs) — it is distinct-ed and broadcast, so the corpus side
    is one explode + broadcast semi-join + re-aggregate, no shuffle of
    corpus text. Keys are md5-derived 64-bit prefixes (md5 exists in both
    Spark and DuckDB, keeping the operation oracle-checkable; xxhash64
    would be cheaper but is Spark-only)."""

    from ..session import widen_scan

    bench_keys = _bench_gram_keys(benchmark, bench_text=bench_text, n=n, lowercase=lowercase)
    doc_grams = widen_scan(corpus).select(
        F.col(corpus_id),
        F.explode_outer(_gram_keys_udf(n, lowercase)(F.col(corpus_text).cast("string"))).alias("_g"),
    )
    hit = F.broadcast(bench_keys.withColumn("_hit", F.lit(1)))
    return (
        doc_grams.join(hit, "_g", "left")
        .groupBy(corpus_id)
        .agg(
            F.count(F.col("_g")).alias("n_ngrams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_overlap"),
        )
        .withColumn(
            "overlap_ratio",
            F.when(
                F.col("n_ngrams") > 0,
                F.round(F.col("n_overlap") / F.col("n_ngrams"), 6),
            ).otherwise(F.lit(0.0)),
        )
    )


class _BloomU64:
    """Bit-packed Bloom filter over uint64 keys, numpy-vectorized.

    Used purely as a PREFILTER in front of an exact sorted-array
    membership check, so its false positives cost one extra searchsorted
    and never change the answer. Double hashing (Kirsch-Mitzenmacher):
    index_i = (low32 + i * (high32|1)) mod m — the md5-derived keys are
    already uniform, so no re-hash is needed."""

    def __init__(self, keys: "np.ndarray", fpp: float):
        import math

        import numpy as np

        n = max(1, keys.size)
        m = max(64, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
        self.k = max(1, round(m / n * math.log(2)))
        self.m = np.uint64(m)
        self.bits = np.zeros((m + 7) // 8, dtype=np.uint8)
        if keys.size:
            for idx in self._indices(keys):
                np.bitwise_or.at(self.bits, idx >> np.uint64(3),
                                 np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8))

    def _indices(self, keys):
        import numpy as np

        h1 = keys & np.uint64(0xFFFFFFFF)
        h2 = (keys >> np.uint64(32)) | np.uint64(1)
        for i in range(self.k):
            yield (h1 + np.uint64(i) * h2) % self.m

    def might_contain(self, keys: "np.ndarray") -> "np.ndarray":
        import numpy as np

        out = np.ones(keys.size, dtype=bool)
        for idx in self._indices(keys):
            bit = (self.bits[idx >> np.uint64(3)]
                   >> (idx & np.uint64(7)).astype(np.uint8)) & np.uint8(1)
            out &= bit.astype(bool)
        return out


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 13,
    text_col: str = "text",
    bench_text: str = "text",
    lowercase: bool = True,
    max_bench_ngrams: int = 50_000_000,
    bloom_fpp: float | None = 0.01,
) -> DataFrame:
    """Drop rows sharing ANY word n-gram with the benchmark set.

    Unlike :func:`ngram_overlap` (a join producing per-doc overlap
    stats), this is a row-local FILTER: the benchmark's distinct gram
    keys are collected once (bounded — benchmarks are MBs by nature,
    enforced by ``max_bench_ngrams``) and shipped broadcast; each
    arriving row computes its grams and checks membership. Because it is
    stateless and row-local it works identically on batch DataFrames and
    Structured Streaming sources (stream-side decontamination of a live
    ingest, no state store, no join).

    Membership representation: the 64-bit gram keys live in a SORTED
    numpy uint64 array (8 bytes/key — 50M keys = 400 MB broadcast,
    vs ~100 bytes/key for a Python str set, hence the 10x-higher gate),
    checked with vectorized searchsorted. ``bloom_fpp`` (default 1%)
    puts a ~1.2 bytes/key Bloom filter in front so the overwhelmingly
    common all-clean row skips the binary searches; the Bloom is a
    prefilter over the EXACT array — false positives cost one extra
    lookup, never a wrong answer. Set ``bloom_fpp=None`` to disable."""
    import numpy as np

    bench_keys = _bench_gram_keys(benchmark, bench_text=bench_text, n=n, lowercase=lowercase)
    rows = bench_keys.limit(max_bench_ngrams + 1).collect()
    if len(rows) > max_bench_ngrams:
        raise ValueError(
            f"benchmark has more than {max_bench_ngrams} distinct {n}-grams; "
            "decontaminate() broadcasts the key set — use ngram_overlap() "
            "(broadcast join) for outsized benchmarks"
        )
    keys = np.sort(np.array([int(r["_g"], 16) for r in rows], dtype=np.uint64))
    bloom = _BloomU64(keys, bloom_fpp) if bloom_fpp is not None and keys.size else None
    bc = df.sparkSession.sparkContext.broadcast((keys, bloom))

    @F.pandas_udf(T.BooleanType())
    def clean(s: pd.Series) -> pd.Series:
        ks, bl = bc.value

        def ok(t):
            grams = _gram_keys_py(t, n=n, lowercase=lowercase)
            if not grams or not ks.size:
                return True
            g = np.array([int(h, 16) for h in grams], dtype=np.uint64)
            if bl is not None:
                g = g[bl.might_contain(g)]
                if not g.size:
                    return True
            pos = np.searchsorted(ks, g)
            pos = np.minimum(pos, ks.size - 1)
            return not bool((ks[pos] == g).any())

        return s.map(ok)

    # NOT widened: the per-row kernel (hash a handful of n-grams, binary
    # search a broadcast array) is too light to pay for a repartition at
    # narrow-scan sizes (A/B: widening cost ~20%); wide inputs at scale
    # parallelize naturally.
    return df.filter(clean(F.col(text_col).cast("string")))


def sample_temperature(
    df: DataFrame,
    group_col: str,
    *,
    temperature: float,
    target_fraction: float = 0.25,
    id_cols: list[str] | None = None,
    seed: str = "mix",
    max_groups: int = 100_000,
) -> DataFrame:
    """Temperature-weighted (data-mixing) sample: per-group sampling
    rates follow p_g ∝ (n_g)^(1/T), the multilingual-pretraining recipe
    that upweights small groups as T grows (T=1 keeps natural
    proportions). Overall size ≈ ``target_fraction`` of the input.

    Selection is a deterministic hash Bernoulli (md5 of seed + ids),
    so the same rows are kept on every run, on any partitioning, and a
    SQL oracle can replay the draw. Rates are rounded to 9 decimals
    before comparison so float formula differences between engines
    cannot flip a boundary row.

    Scale: pass 1 aggregates group counts (tiny result, collected);
    pass 2 filters with the rates folded in as a literal map — the data
    itself never shuffles."""
    ids = id_cols or [df.columns[0]]
    # persist: the counts pass and the returned filter otherwise execute
    # the upstream lineage twice — after an LLM stage that would pay
    # every model call twice (and a nondeterministic backend could make
    # the rates disagree with the rows actually filtered). The cache
    # entry stays pinned until the caller releases it: the returned
    # DataFrame carries the handle as ``._docetl_cached_input`` —
    # unpersist it once the sample is materialized (cache entries are
    # keyed by plan and are NOT garbage-collected with the object).
    df = df.persist()
    # bounded collect: limit(max_groups+1) lets the job stop early, so a
    # mistakenly high-cardinality group_col (doc ids instead of sources)
    # fails fast instead of collecting unboundedly (VERDICT r4 #4 —
    # decontaminate's bench-key gate pattern)
    grp = df.groupBy(F.col(group_col).alias("g")).count().withColumnRenamed("count", "n")
    rows = grp.limit(max_groups + 1).collect()
    if len(rows) > max_groups:
        df.unpersist()
        raise ValueError(
            f"sample_temperature: group_col {group_col!r} has > {max_groups} "
            "distinct values — this operator is for source/language mixing "
            "(dozens of groups); raise max_groups only if that is intended"
        )
    counts = {r["g"]: r["n"] for r in rows}
    total = sum(counts.values())
    if not total:
        df.unpersist()
        return df.filter(F.lit(False))
    weights = {g: float(n) ** (1.0 / temperature) for g, n in counts.items()}
    wsum = sum(weights.values())
    target = target_fraction * total
    rates = {
        g: round(min(1.0, (target * weights[g] / wsum) / counts[g]), 9) for g in counts
    }
    rate_map = F.create_map(*[F.lit(x) for g in sorted(rates) for x in (g, rates[g])])
    key = F.concat_ws("|", F.lit(seed), *[F.col(c).cast("string") for c in ids])
    draw = F.conv(F.substring(F.md5(key), 1, 6), 16, 10).cast("double") / F.lit(float(16**6))
    out = df.filter(draw < rate_map[F.col(group_col)])
    out._docetl_cached_input = df  # release handle: .unpersist() when done
    return out


def pack_documents(
    df: DataFrame,
    *,
    budget: int,
    text_col: str = "text",
    token_col: str | None = None,
    id_cols: list[str] | None = None,
    order_cols: list[str] | None = None,
    shard_expr: F.Column | None = None,
    n_shards: int = 8,
) -> DataFrame:
    """NO-SPLIT (next-fit) document packing — the SFT/instruction-tuning
    counterpart of :func:`pack_sequences`: documents stay intact; within
    each shard they are laid into fixed-``budget`` bins in deterministic
    order, and a document that would overflow the open bin CLOSES it and
    starts the next one. Documents longer than the budget get a bin of
    their own, flagged ``overflow`` (the caller truncates or drops).

    Output: one row per document with ``shard, bin_id`` (bin key within
    shard), ``bin_off`` (token offset inside the bin), ``n_tokens``,
    ``overflow``.

    The next-fit recurrence is sequential per shard: bin state threads
    through an ``applyInPandas`` over each shard's rows (one linear pass,
    numpy-free loop — packing is O(rows), not the bottleneck). Shards
    bound both sort and state, as in pack_sequences; an independent
    engine can replay the recurrence exactly (DuckDB recursive CTE — see
    the pack_documents_docs oracle), so the whole op is hash-checkable.

    Scale: ONE shuffle (groupBy shard); per-task memory is O(1) beyond
    the Arrow batch. More shards = more parallelism.
    """
    ids = id_cols or [df.columns[0]]
    order = order_cols or ids
    toks = F.col(token_col) if token_col else token_count(F.col(text_col))
    shard = (shard_expr if shard_expr is not None else F.pmod(F.xxhash64(*ids), F.lit(n_shards))).cast("long")
    carry = list(dict.fromkeys([*ids, *order]))
    base = df.select(*carry, shard.alias("shard"), toks.cast("long").alias("n_tokens")).filter(
        F.col("n_tokens") > 0
    )
    id_fields = [base.schema[c] for c in carry]
    out_schema = T.StructType(
        id_fields
        + [
            T.StructField("shard", T.LongType(), True),
            T.StructField("bin_id", T.LongType(), True),
            T.StructField("bin_off", T.LongType(), True),
            T.StructField("n_tokens", T.LongType(), True),
            T.StructField("overflow", T.BooleanType(), True),
        ]
    )
    b = int(budget)

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order, kind="mergesort").reset_index(drop=True)
        bins, offs, flags = [], [], []
        bin_id, fill = 0, 0
        first = True
        for n in pdf["n_tokens"]:
            n = int(n)
            if not first and fill + n > b:
                bin_id += 1
                fill = 0
            first = False
            bins.append(bin_id)
            offs.append(fill)
            flags.append(n > b)
            fill += n
        pdf["bin_id"] = bins
        pdf["bin_off"] = offs
        pdf["overflow"] = flags
        return pdf[[*carry, "shard", "bin_id", "bin_off", "n_tokens", "overflow"]]

    return base.groupBy("shard").applyInPandas(pack, schema=out_schema)


# ------------------------------------------------------------------ DSIR
def _lower_tokens(col) -> F.Column:
    """Lowercased ASCII-whitespace tokens; parity shape:
    ``list_filter(string_split_regex(trim(lower(c)), '\\s+'), x -> x <> '')``."""
    trimmed = F.trim(F.lower(col))
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def _hash_bucket(col, buckets: int, salt: str) -> F.Column:
    """Deterministic feature-hash bucket in [0, buckets): first 8 hex
    chars of md5, base-16 → long, mod buckets. SQL replay:
    ``('0x' || substr(md5(salt || '#' || tok), 1, 8))::BIGINT % buckets``."""
    h = F.conv(F.substring(F.md5(F.concat_ws("#", F.lit(salt), col)), 1, 8), 16, 10)
    return (h.cast("long") % buckets).alias("bucket")


def dsir_weights(
    df: DataFrame,
    target: DataFrame,
    text_col: str,
    *,
    id_col: str,
    buckets: int = 1024,
    salt: str = "dsir",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw doc by
    how target-like its hashed-unigram distribution is.

    log w(doc) = Σ_b c_b(doc) · (log p̂_target(b) − log p̂_raw(b)),
    with add-1 smoothed bucket probabilities over ``buckets`` hashed
    unigram features. (The paper hashes uni+bigrams into 10k buckets; we
    use unigrams by default — pass a pre-tokenized/bigrammed column to
    reproduce the paper exactly.)

    Scale posture: the only data-sized shuffle is the per-(doc, bucket)
    count aggregation (map-side combinable). Both bucket-distribution
    tables are ≤ ``buckets`` rows — broadcast; the two grand totals are
    1-row aggregates. Everything is JVM expressions; weights are exact
    integer-count arithmetic in double precision, so a SQL oracle
    replays them bit-for-bit (rounded to 4 decimals at the boundary).

    Returns (id_col, dsir_logw double) — one row per input doc, docs
    with no tokens get logw 0.0.
    """
    def bucket_counts(frame: DataFrame) -> DataFrame:
        toks = frame.select(F.explode(_lower_tokens(F.col(text_col))).alias("_tok"))
        return toks.groupBy(_hash_bucket(F.col("_tok"), buckets, salt)).count()

    t_counts = bucket_counts(target)
    r_counts = bucket_counts(df)
    t_total = (t_counts.agg(F.sum("count")).collect()[0][0] or 0) + buckets
    r_total = (r_counts.agg(F.sum("count")).collect()[0][0] or 0) + buckets
    spark = df.sparkSession
    spine = spark.range(buckets).select(F.col("id").alias("bucket"))
    llr = (
        spine.join(t_counts.withColumnRenamed("count", "_ct"), "bucket", "left")
        .join(r_counts.withColumnRenamed("count", "_cr"), "bucket", "left")
        .select(
            "bucket",
            (
                F.log((F.coalesce(F.col("_ct"), F.lit(0)) + 1).cast("double") / F.lit(float(t_total)))
                - F.log((F.coalesce(F.col("_cr"), F.lit(0)) + 1).cast("double") / F.lit(float(r_total)))
            ).alias("_llr"),
        )
    )
    doc_buckets = (
        df.select(F.col(id_col), F.explode(_lower_tokens(F.col(text_col))).alias("_tok"))
        .groupBy(id_col, _hash_bucket(F.col("_tok"), buckets, salt))
        .count()
    )
    scored = (
        doc_buckets.join(F.broadcast(llr), "bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("count") * F.col("_llr")).alias("dsir_logw"))
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .withColumn("dsir_logw", F.coalesce(F.col("dsir_logw"), F.lit(0.0)))
    )


def dsir_select(
    df: DataFrame,
    target: DataFrame,
    text_col: str,
    *,
    id_col: str,
    k: int,
    buckets: int = 1024,
    gumbel: bool = True,
    salt: str = "dsir",
) -> DataFrame:
    """DSIR top-k selection: importance weights + (optionally) Gumbel
    noise, take the k highest scores. Gumbel-top-k over log-weights IS
    sampling-without-replacement ∝ w (the paper's resampling step), but
    with a deterministic hash draw u = (md5_32(salt~id)+0.5)/2^32 so
    reruns — and the SQL oracle — pick the same docs.

    Returns (id_col, dsir_logw, dsir_score, sel_rank), k rows, scores
    rounded to 4 decimals before ranking so engine float formatting
    can't flip a boundary row; ties broken by id.
    """
    w = dsir_weights(df, target, text_col, id_col=id_col, buckets=buckets, salt=salt)
    if gumbel:
        u = (
            F.conv(F.substring(F.md5(F.concat_ws("#", F.lit(salt + "!g"), F.col(id_col).cast("string"))), 1, 8), 16, 10)
            .cast("double") + F.lit(0.5)
        ) / F.lit(float(1 << 32))
        score = F.col("dsir_logw") - F.log(-F.log(u))
    else:
        score = F.col("dsir_logw")
    scored = w.select(
        id_col,
        F.round("dsir_logw", 4).alias("dsir_logw"),
        F.round(score, 4).alias("dsir_score"),
    )
    win = bounded_global_window(id_col, F.col("dsir_score").desc(), F.col(id_col))
    # global top-k: Spark's TakeOrderedAndProject does per-partition
    # top-k then a k-row merge on one reducer — the window formulation
    # below would single-partition ALL rows, so rank only the k kept.
    top = scored.orderBy(F.col("dsir_score").desc(), F.col(id_col)).limit(k)
    return top.withColumn("sel_rank", F.row_number().over(win))


def shard_manifest(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str | None = None,
    num_shards: int = 64,
    salt: str = "shard",
) -> DataFrame:
    """Deterministic training-shard assignment + per-shard manifest.

    Shard = md5-hash of the id — a content-independent uniform shuffle,
    the standard way to break source/time ordering before sequence
    packing (hash order ≈ global random order, reproducible across
    runs and engines). Returns one row per shard: doc count, token sum,
    id range — the manifest a trainer uses to plan epochs/resume.

    Scale: one map-side-combinable aggregation on the shard key; no
    sort, no single-reducer stage.
    """
    shard = (
        F.conv(F.substring(F.md5(F.concat_ws("#", F.lit(salt), F.col(id_col).cast("string"))), 1, 8), 16, 10)
        .cast("long") % num_shards
    ).alias("shard")
    aggs = [
        F.count("*").alias("num_docs"),
        F.min(id_col).alias("min_id"),
        F.max(id_col).alias("max_id"),
    ]
    if text_col is not None:
        aggs.insert(1, F.sum(token_count(F.col(text_col))).alias("num_tokens"))
    return df.groupBy(shard).agg(*aggs)


# ------------------------------------------------- perplexity filtering
def lm_score(
    df: DataFrame,
    *,
    text_col: str,
    id_col: str,
    model_corpus: DataFrame | None = None,
    buckets: int = 1 << 16,
    salt: str = "lm",
) -> DataFrame:
    """Perplexity-proxy scoring (the CCNet/Gopher-style LM filter): mean
    negative log-probability of each doc's hashed bigrams under a
    bigram-given-unigram model estimated from ``model_corpus`` (default:
    the corpus itself).

        logp(w2|w1) = ln( (c(w1,w2)+1) / (c(w1)+buckets) )
        lm_nll(doc) = -mean(logp) over the doc's bigrams

    High nll = surprising under the reference distribution — the usual
    filter drops the extreme tails (gibberish at the top, boilerplate at
    the bottom). KenLM would give real Kneser-Ney perplexity; hashed
    add-1 bigrams keep the whole model as two count tables and every
    step SQL-replayable (same deviation class as DSIR's hashed
    unigrams; documented).

    Scale: bigram/unigram count tables aggregate map-side at vocabulary
    (not corpus) cardinality and join back on their hashed keys —
    shuffle-partitioned equi-joins, no broadcast needed (the bigram
    table may be large), no driver data. Docs with <2 tokens score 0.0.

    Returns (id_col, lm_nll double).
    """
    model_corpus = model_corpus if model_corpus is not None else df

    def doc_bigrams(frame: DataFrame, with_id: bool) -> DataFrame:
        toks = _lower_tokens(F.col(text_col))
        # zip_with over two slices: each array argument (and thus the
        # split()) evaluates once PER ROW. The transform+F.get(toks, i+1)
        # formulation re-evaluates the outer token array per ELEMENT —
        # quadratic per doc, measured 10x slower at sf0.1 (same
        # re-inlining pitfall as _gram_keys_py / text.shingles)
        pairs = F.when(
            F.size(toks) >= 2,
            F.zip_with(
                F.slice(toks, 1, F.size(toks) - 1),
                F.slice(toks, 2, F.size(toks) - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            ),
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        cols = [F.col(id_col)] if with_id else []
        return frame.select(*cols, F.explode(pairs).alias("_bg")).select(
            *([id_col] if with_id else []),
            _hash_bucket(F.col("_bg.w1"), buckets, salt).alias("_u"),
            _hash_bucket(F.concat_ws(" ", F.col("_bg.w1"), F.col("_bg.w2")), buckets, salt).alias("_b"),
        )

    self_model = model_corpus is df
    hb = doc_bigrams(df, with_id=True)
    if self_model:
        # scoring the corpus under its own model: tokenize+hash ONCE
        # (cached), and since every doc bigram is by construction in the
        # model, fold uni counts into the bigram table (a join at
        # vocabulary cardinality) so the corpus-sized rows shuffle
        # through ONE join instead of two
        hb = hb.persist()
        model = hb.select("_u", "_b")
    else:
        model = doc_bigrams(model_corpus, with_id=False)
    uni = model.groupBy("_u").agg(F.count("*").alias("_cu"))
    big = model.groupBy("_u", "_b").agg(F.count("*").alias("_cb"))
    logp = F.log(
        (F.coalesce(F.col("_cb"), F.lit(0)) + 1).cast("double")
        / (F.coalesce(F.col("_cu"), F.lit(0)) + buckets).cast("double")
    )
    if self_model:
        joined = hb.join(big.join(uni, "_u"), ["_u", "_b"])
    else:
        # a df bigram absent from the model may still have a seen
        # unigram — cu must survive, so join the tables separately
        joined = hb.join(big, ["_u", "_b"], "left").join(uni, "_u", "left")
    scored = joined.groupBy(id_col).agg((-F.avg(logp)).alias("lm_nll"))
    out = (
        df.select(id_col)
        .join(scored, id_col, "left")
        .withColumn("lm_nll", F.coalesce(F.col("lm_nll"), F.lit(0.0)))
    )
    if self_model:
        out._docetl_cached_input = hb  # release handle: .unpersist() when done
    return out


def assign_splits(
    df: DataFrame,
    *,
    id_cols: list[str],
    fractions: dict[str, float] | None = None,
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: one md5 draw per row,
    thresholded by cumulative fractions in the dict's key order. The
    same row lands in the same split on every run, engine, and
    partitioning — the property that matters for leak-free eval sets.
    Adds a ``split`` string column; fractions must sum to <= 1 (any
    remainder falls into the last split).
    """
    fractions = fractions or {"train": 0.9, "val": 0.05, "test": 0.05}
    if not fractions or any(v < 0 for v in fractions.values()) or sum(fractions.values()) > 1 + 1e-9:
        raise ValueError("fractions must be non-negative and sum to <= 1")
    key = F.concat_ws("|", F.lit(salt), *[F.col(c).cast("string") for c in id_cols])
    draw = F.conv(F.substring(F.md5(key), 1, 6), 16, 10).cast("double") / F.lit(float(16**6))
    names = list(fractions)
    expr = None
    cum = 0.0
    for n in names[:-1]:
        cum = round(cum + fractions[n], 9)
        cond = draw < F.lit(cum)
        expr = F.when(cond, F.lit(n)) if expr is None else expr.when(cond, F.lit(n))
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(F.lit(names[-1]))
    return df.withColumn("split", expr)


def assign_splits_exact(
    df: DataFrame,
    *,
    id_cols: list[str],
    weights: dict[str, int] | None = None,
    strata: list[str] | None = None,
    salt: str = "split",
) -> DataFrame:
    """Exact-quota train/val/test assignment: per stratum of ``strata``
    (or globally), split sizes are EXACT cumulative-floor quotas of the
    integer ``weights`` — split i gets rows floor(n*cum_i/W) -
    floor(n*cum_{i-1}/W), which always sums to n (the gap
    ``assign_splits``'s independent md5 draws leave open: a 500-row
    stratum at 90/5/5 can come out 459/22/19 there, and is exactly
    450/25/25 here). Rows are ordered inside each stratum by a salted
    md5 of ``id_cols`` (then by the key itself for md5 ties), so
    assignment is deterministic across runs, engines, and partitioning.

    The boundary test is pure integer math (rank * W <= n * cum_i), so
    an oracle replays it bit-for-bit — no float fraction sits on a
    quota line. Scale notes: with ``strata`` the rank is a per-stratum
    window, so a single giant stratum serialises into one task (same
    bound as select_top_frac's exact path); WITHOUT strata the rank
    rides rank.py's distributed range-partitioned _global_row_number —
    a bare W.orderBy() window would drag the whole corpus into one
    partition.
    """
    weights = weights or {"train": 18, "val": 1, "test": 1}
    if not weights or any((not isinstance(v, int)) or v <= 0 for v in weights.values()):
        raise ValueError("weights must be positive integers")
    names = list(weights)
    total = sum(weights.values())
    key = F.concat_ws("|", F.lit(salt), *[F.col(c).cast("string") for c in id_cols])
    if strata:
        part = [F.col(c) for c in strata]
        w = W.partitionBy(*part).orderBy(F.md5(key), key)
        out = df.withColumn("_rnk", F.row_number().over(w)).withColumn(
            "_n", F.count(F.lit(1)).over(W.partitionBy(*part))
        )
    else:
        from ..operators.rank import _global_row_number_with_total

        # r11 optimization (guide §2.4): total as a literal from the
        # offset map instead of a count-agg + broadcast_scalar_join
        # that referenced the whole rank subtree twice (the
        # quantile_buckets fix, applied here too).
        keyed = df.withColumn("_mk", F.md5(key)).withColumn("_kk", key)
        ranked, n_tot = _global_row_number_with_total(
            keyed, [F.col("_mk").asc(), F.col("_kk").asc()], "_rnk"
        )
        out = ranked.withColumn(
            "_n", F.lit(int(n_tot)).cast("long")).drop("_mk", "_kk")
    expr = None
    cum = 0
    for n in names[:-1]:
        cum += weights[n]
        # rank r goes to the first split with r*W <= n*cum  <=>  r <= floor(n*cum/W)
        cond = F.col("_rnk") * F.lit(total) <= F.col("_n") * F.lit(cum)
        expr = F.when(cond, F.lit(n)) if expr is None else expr.when(cond, F.lit(n))
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(F.lit(names[-1]))
    return out.withColumn("split", expr).drop("_rnk", "_n")


# ------------------------------------------------------- mixture planning
def mixture_plan(
    df: DataFrame,
    group_col: str,
    target_weights: dict[str, float],
    *,
    weight_col: str | None = None,
) -> DataFrame:
    """Plan per-source sampling rates that hit EXPLICIT target mixture
    weights (the deliberate-mixture counterpart of
    :func:`sample_temperature`'s power-law recipe — e.g. "40% web, 30%
    books, 30% code" by tokens). No source is upsampled: the achieved
    corpus size T is the largest satisfying ``w_g * T <= avail_g`` for
    every targeted group, i.e. ``T = min(avail_g / w_g)`` — the scarcest
    source binds, everything else downsamples to proportion.

    ``avail_g`` is row count, or ``sum(weight_col)`` when planning by a
    size column (tokens/chars). Groups absent from ``target_weights`` —
    and targeted groups with no rows — get rate 0 and don't bind T.
    Rates round to 9 decimals so a SQL replay agrees exactly.

    Returns the tiny plan table: (group, available, weight, rate,
    planned) — one aggregation pass, collect-free; feed it to
    :func:`apply_mixture`.

    Scale: the only full-data work is one map-side-combinable groupBy at
    source cardinality (dozens of rows); the plan itself is KBs.
    """
    wsum = sum(target_weights.values())
    if wsum <= 0:
        raise ValueError("mixture_plan: target_weights must sum > 0")
    # round-9 the normalized weights: float summation order differs
    # between engines (and between dict orders), and the rate formula
    # must reproduce bit-identically in a SQL replay
    norm = {g: round(w / wsum, 9) for g, w in target_weights.items()}
    avail_expr = F.sum(F.col(weight_col)) if weight_col else F.count(F.lit(1))
    counts = df.groupBy(F.col(group_col).cast("string").alias("group")).agg(
        avail_expr.cast("double").alias("available")
    )
    # keys coerced to str: the lookup column is cast to string, so a
    # native-typed key literal (int group ids) would silently never match
    wmap = F.create_map(
        *[x for g in sorted(norm, key=str) for x in (F.lit(str(g)), F.lit(float(norm[g])))]
    )
    planned = counts.withColumn("weight", F.coalesce(wmap[F.col("group")], F.lit(0.0)))
    # T = min over targeted non-empty groups of available/weight, taken
    # with a GLOBAL window: the plan table is source-cardinality rows
    # (dozens) by contract, so one single-partition window beats the
    # 1-row-aggregate crossJoin, which plans as BroadcastNestedLoopJoin
    t_expr = F.min(
        F.when((F.col("weight") > 0) & (F.col("available") > 0),
               F.col("available") / F.col("weight"))
    ).over(bounded_global_window("group"))
    return (
        planned.withColumn("_t", t_expr)
        .withColumn(
            "rate",
            F.when(
                (F.col("weight") > 0) & (F.col("available") > 0) & F.col("_t").isNotNull(),
                F.round(F.least(F.lit(1.0), F.col("weight") * F.col("_t") / F.col("available")), 9),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("planned", F.round(F.col("available") * F.col("rate"), 3))
        .select("group", "available", "weight", "rate", "planned")
    )


def apply_mixture(
    df: DataFrame,
    plan: DataFrame | dict,
    group_col: str,
    *,
    id_cols: list[str] | None = None,
    seed: str = "mixplan",
) -> DataFrame:
    """Materialize a :func:`mixture_plan`: keep each row iff its
    deterministic md5 draw (seed + ids — same convention as
    ``sample_temperature``/``assign_splits``, SQL-replayable) falls under
    its group's planned rate. The plan joins in broadcast (it is
    source-cardinality rows); the corpus itself never shuffles."""
    ids = id_cols or [df.columns[0]]
    if isinstance(plan, dict):
        rate_map = F.create_map(
            *[x for g in sorted(plan, key=str) for x in (F.lit(str(g)), F.lit(float(plan[g])))]
        )
        rate = F.coalesce(rate_map[F.col(group_col).cast("string")], F.lit(0.0))
        joined = df
    else:
        # alias the plan columns: a user column literally named "group"/
        # "rate" must not capture the join condition or the filter
        plan_k = plan.select(F.col("group").alias("_mx_group"), F.col("rate").alias("_mx_rate"))
        joined = df.join(
            F.broadcast(plan_k),
            df[group_col].cast("string") == F.col("_mx_group"),
            "left",
        ).drop("_mx_group")
        rate = F.coalesce(F.col("_mx_rate"), F.lit(0.0))
    key = F.concat_ws("|", F.lit(seed), *[F.col(c).cast("string") for c in ids])
    draw = F.conv(F.substring(F.md5(key), 1, 6), 16, 10).cast("double") / F.lit(float(16**6))
    out = joined.filter(draw < rate)
    return out.drop("_mx_rate") if not isinstance(plan, dict) else out


def unimax_plan(
    df: DataFrame,
    group_col: str,
    *,
    budget: float,
    max_epochs: float = 1.0,
    weight_col: str | None = None,
) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    More Effective Language Sampling"): spread a total training budget
    UNIFORMLY across sources, except no source may repeat more than
    ``max_epochs`` times — small sources saturate at their epoch cap and
    the freed budget redistributes uniformly among the rest.

    Closed form instead of the paper's sequential loop: with per-group
    capacity ``cap_g = max_epochs * available_g``, the water-filling
    solution is ``alloc_g = min(cap_g, L)`` where the level L satisfies
    ``sum_g min(cap_g, L) = budget``. Sorting groups by capacity
    ascending, group g is saturated iff ``cum_g + after_g * cap_g <=
    budget`` (cum/after = running sum / groups strictly after), and
    ``L = (budget - cum_sat) / n_unsat``. That is one tiny window pass
    over the source-cardinality plan table — no driver loop, no
    collect, and it replays exactly in ANSI SQL (identical ORDER BY =>
    identical sequential double accumulation in both engines).

    ``available_g`` is row count or ``sum(weight_col)`` (tokens).
    Returns (group, available, capacity, allocated, epochs); epochs may
    exceed 1 (upsampling) — feed to :func:`apply_unimax`. If ``budget >=
    sum(cap)`` every group saturates and the plan under-fills; epochs
    round to 9 decimals so the SQL replay agrees bit-for-bit."""
    if budget <= 0:
        raise ValueError("unimax_plan: budget must be > 0")
    if max_epochs <= 0:
        raise ValueError("unimax_plan: max_epochs must be > 0")
    avail_expr = F.sum(F.col(weight_col)) if weight_col else F.count(F.lit(1))
    counts = df.groupBy(F.col(group_col).cast("string").alias("group")).agg(
        avail_expr.cast("double").alias("available")
    )
    cap = F.round(F.col("available") * F.lit(float(max_epochs)), 9)
    planned = counts.withColumn("capacity", cap)
    # plan table is source-cardinality rows (dozens) by contract: global
    # single-partition windows are the right plan, same as mixture_plan
    w_ord = bounded_global_window("group", "capacity", "group")
    cum = F.sum("capacity").over(w_ord.rowsBetween(W.unboundedPreceding, 0))
    n_all = F.count(F.lit(1)).over(bounded_global_window("group"))
    idx = F.row_number().over(w_ord)
    after = n_all - idx
    sat = cum + after * F.col("capacity") <= F.lit(float(budget))
    staged = planned.select(
        "group", "available", "capacity",
        cum.alias("_cum"), after.alias("_after"), sat.alias("_sat"),
    )
    cum_sat = F.max(F.when(F.col("_sat"), F.col("_cum"))).over(bounded_global_window("group"))
    n_unsat = F.sum(F.when(F.col("_sat"), F.lit(0)).otherwise(F.lit(1))).over(bounded_global_window("group"))
    level = F.when(
        F.col("_n_unsat") > 0,
        (F.lit(float(budget)) - F.coalesce(F.col("_cum_sat"), F.lit(0.0))) / F.col("_n_unsat"),
    )
    alloc = F.when(F.col("_sat") | F.col("_level").isNull(), F.col("capacity")).otherwise(
        F.least(F.col("capacity"), F.col("_level"))
    )
    return (
        staged.withColumn("_cum_sat", cum_sat)
        .withColumn("_n_unsat", n_unsat)
        .withColumn("_level", level)
        .withColumn("allocated", F.round(alloc, 6))
        .withColumn(
            "epochs",
            F.when(F.col("available") > 0, F.round(F.col("allocated") / F.col("available"), 9))
            .otherwise(F.lit(0.0)),
        )
        .select("group", "available", "capacity", "allocated", "epochs")
    )


def apply_unimax(
    df: DataFrame,
    plan: DataFrame,
    group_col: str,
    *,
    id_cols: list[str] | None = None,
    seed: str = "unimax",
) -> DataFrame:
    """Materialize a :func:`unimax_plan`, INCLUDING upsampling: each row
    emits ``floor(epochs)`` full copies plus one more iff its
    deterministic md5 draw falls under the fractional part (same
    seed|ids convention as apply_mixture — SQL-replayable, no rand()).
    Output rows carry a 1-based ``copy`` index; epochs < 1 degenerates
    to the familiar keep/drop downsample. The plan joins in broadcast;
    the corpus never shuffles."""
    ids = id_cols or [df.columns[0]]
    plan_k = plan.select(F.col("group").alias("_ux_group"), F.col("epochs").alias("_ux_epochs"))
    joined = df.join(
        F.broadcast(plan_k), df[group_col].cast("string") == F.col("_ux_group"), "left"
    ).drop("_ux_group")
    epochs = F.coalesce(F.col("_ux_epochs"), F.lit(0.0))
    full = F.floor(epochs).cast("int")
    frac = epochs - F.floor(epochs)
    key = F.concat_ws("|", F.lit(seed), *[F.col(c).cast("string") for c in ids])
    draw = F.conv(F.substring(F.md5(key), 1, 6), 16, 10).cast("double") / F.lit(float(16**6))
    copies = full + F.when(draw < frac, F.lit(1)).otherwise(F.lit(0))
    # sequence(1, 0) counts DOWN in Spark ([1, 0] — two rows!); rows with
    # zero copies must explode an empty array and vanish
    seq = F.when(copies >= 1, F.sequence(F.lit(1), copies)).otherwise(
        F.expr("array()").cast("array<int>")
    )
    return joined.withColumn("copy", F.explode(seq)).drop("_ux_epochs")


# ------------------------------------------------ per-group curation cuts
def select_top_frac(
    df: DataFrame,
    score_col: str,
    frac: float,
    *,
    by: list[str] | None = None,
    tiebreak: list[str] | None = None,
    higher_is_better: bool = True,
    approx_threshold: bool = False,
) -> DataFrame:
    """Keep the top ``frac`` of rows by ``score_col`` (per ``by`` group
    when given) — the standard per-language/per-domain quality cut
    (CCNet keeps the best-perplexity tercile per language; C4 keeps
    above-threshold quality).

    Exact rank semantics, not an approximate quantile: a row survives
    iff its percent_rank (ties broken by ``tiebreak``, which you should
    always pass for reproducibility) is strictly under ``frac`` — the
    best row of every group survives for any frac > 0, and the
    definition replays bit-for-bit in ANSI SQL because percent_rank is
    (rank-1)/(n-1) over integers in both engines.

    Scale: one window per group — a hot group serializes into one
    spill-capable sort task. When groups are balanced (languages,
    domains) this is the right plan; for a single giant group pass
    ``approx_threshold=True``: a per-group ``approx_percentile``
    threshold (map-side-combinable sketch agg, default 1e-4 relative
    error) broadcast-joins back and the corpus filters in place — two
    scans, NO per-group sort, at the cost of rank exactness at the
    boundary (kept fraction is frac +/- the sketch error, and boundary
    ties all keep). The exact mode stays the oracle-checked default."""
    if not (0.0 <= frac <= 1.0):
        raise ValueError(f"select_top_frac: frac must be in [0, 1], got {frac}")
    if frac >= 1.0:
        # identity, NOT a filter: the last-ranked row has percent_rank
        # exactly 1.0 and a strict < 1.0 would silently drop it
        return df
    if approx_threshold:
        if frac <= 0.0:
            # parity with the exact path (percent_rank < 0 keeps nothing);
            # without this, q=1.0 would keep every max-tied row per group
            return df.limit(0)
        # threshold = the (1-frac) quantile for higher-is-better (keep
        # scores >= it), the frac quantile otherwise (keep <= it)
        q = 1.0 - frac if higher_is_better else frac
        thr_agg = F.percentile_approx(F.col(score_col), F.lit(float(q)), F.lit(10_000))
        if by:
            # NULL-SAFE group join: a NULL group key is a real group in
            # the exact path's partitionBy; a bare equi-join would drop
            # its rows entirely
            thr = df.groupBy(*[F.col(c) for c in by]).agg(thr_agg.alias("_thr"))
            tj = thr.select(
                *[F.col(c).alias(f"_tf_{c}") for c in by], "_thr"
            )
            cond = None
            for c in by:
                e = F.col(c).eqNullSafe(F.col(f"_tf_{c}"))
                cond = e if cond is None else cond & e
            joined = df.join(F.broadcast(tj), cond, "left").drop(
                *[f"_tf_{c}" for c in by]
            )
        else:
            # crossJoin(broadcast(1-row)) constant-folds to a
            # BroadcastNestedLoopJoin — the strategy the plan sweep
            # forbids; route through the non-foldable-key scalar-join
            # idiom instead (BroadcastHashJoin)
            from .stats import broadcast_scalar_join

            joined = broadcast_scalar_join(
                df, df.agg(thr_agg.alias("_thr")), df_col=score_col, scalar_col="_thr"
            )
        keep = (
            F.col(score_col) >= F.col("_thr")
            if higher_is_better
            else F.col(score_col) <= F.col("_thr")
        )
        # NULL-score rows are DROPPED in approx mode (the sketch cannot
        # rank them; the comparison evaluates NULL) — this diverges from
        # the exact path, which follows SQL null ordering (nulls sort
        # LAST under desc / FIRST under asc). Filter nulls upstream when
        # that difference matters.
        return joined.filter(keep).drop("_thr")
    direction = F.col(score_col).desc() if higher_is_better else F.col(score_col).asc()
    order = [direction] + [F.col(c) for c in (tiebreak or [])]
    w = W.partitionBy(*(by or [])).orderBy(*order)
    return (
        df.withColumn("_pr", F.percent_rank().over(w))
        .filter(F.col("_pr") < F.lit(float(frac)))
        .drop("_pr")
    )


def cap_per_group(
    df: DataFrame,
    group_cols: list[str],
    n: int,
    *,
    order: list,
) -> DataFrame:
    """Keep at most ``n`` rows per group, best-first by ``order``
    (column names or Columns) — the RefinedWeb/C4 anti-spam host cap:
    no single domain may dominate the corpus no matter how many pages
    it contributes.

    ``order`` is REQUIRED and must be a deterministic total order
    within each group (end it with a unique id): ordering by the
    partition columns alone would tie every row and let row_number pick
    an arbitrary, run-dependent subset.

    One row_number window per group; a mega-group costs one
    spill-capable sort task bounded by that group's rows."""
    if n < 1:
        raise ValueError(f"cap_per_group: n must be >= 1, got {n}")
    if not order:
        raise ValueError(
            "cap_per_group: `order` is required — a deterministic total order "
            "(ending in a unique id) decides WHICH n rows survive"
        )
    cols = [F.col(c) if isinstance(c, str) else c for c in order]
    w = W.partitionBy(*group_cols).orderBy(*cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def sample_pps(
    df: DataFrame,
    weight_col: str,
    n: int,
    *,
    order_by: list[str],
    strata: list[str] | None = None,
    scale: int = 100,
) -> DataFrame:
    """Deterministic systematic PPS sampling (probability proportional
    to size): pick ~``n`` rows per stratum with selection probability
    proportional to ``weight_col`` — the quality-weighted corpus
    subsampling primitive ("keep 1M docs, favoring high quality"),
    without the ln(u)/w exponential-race trick whose libm ln() is a
    cross-engine 1-ulp hazard.

    The classic systematic rule, in EXACT integer math: fixed-point
    weights (cents), per-stratum running sum over ``order_by``; a row
    is selected iff the running total crosses one of the n equally
    spaced boundaries — ``floor(cum*n/tot) > floor(prev_cum*n/tot)``,
    evaluated as bigint multiply-then-DIV so both engines agree
    bit-for-bit. Exactly n selections per stratum when every weight is
    positive (the n boundary crossings); a single row heavier than
    tot/n crosses several boundaries — it is emitted once with
    ``n_copies`` recording its multiplicity (upsample downstream with
    explode(sequence) if PPS-with-replacement is wanted). Zero/NULL
    weights are never selected.

    ``order_by`` must be a deterministic total order (hash the id for
    an unbiased spread; sort by quality for a stratified-by-rank
    spread). Output: input columns + ``n_copies`` (long) on selected
    rows only.

    Plan: ONE shuffle on (strata) for two frames over the same sort
    order (running sum + stratum total); selection is a pure JVM
    projection. Per-stratum sort task — the usual per-group window
    bound; strata-less calls ride a single partition ONLY through the
    window, so pass strata (or a hash-bucket pseudo-stratum) at scale.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    if not order_by:
        raise ValueError("sample_pps requires a deterministic order_by")
    reserved = {"n_copies", "_pps_c", "_pps_cum", "_pps_tot"}
    clash = sorted(reserved & set(df.columns))
    if clash:
        raise ValueError(f"sample_pps reserves column names {clash}")
    from .stats import to_cents

    part = [F.col(c) for c in (strata or [])]
    ordering = [F.col(c) for c in order_by]
    # negative weights would make the running sum non-monotonic and
    # silently corrupt the boundary crossings — fail LOUDLY instead
    # (the assert branch only evaluates on offending rows)
    raw = to_cents(weight_col, scale)
    guarded = (
        F.when(raw.isNull(), F.lit(0))  # NULL weight: never selected
        .when(raw >= 0, raw)
        .otherwise(
            F.assert_true(
                F.lit(False),
                F.lit("sample_pps: negative weight — weights must be >= 0"),
            ).cast("long")
        )
    )
    c = F.coalesce(guarded, F.lit(0))
    wrun = W.partitionBy(*part).orderBy(*ordering).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    wall = W.partitionBy(*part)
    # decimal(38,0) for the cum*n product: a bigint multiply overflows
    # at (stratum cents) * n > 2^63 — well inside the operator's own
    # advertised scale. The zero-total guard is STRUCTURAL (CaseWhen),
    # not an order-dependent filter conjunct.
    nc = (
        f"CASE WHEN _pps_tot > 0 THEN CAST("
        f"CAST(_pps_cum AS DECIMAL(38,0)) * {int(n)} DIV CAST(_pps_tot AS DECIMAL(38,0))"
        f" - CAST(_pps_cum - _pps_c AS DECIMAL(38,0)) * {int(n)} DIV CAST(_pps_tot AS DECIMAL(38,0))"
        f" AS BIGINT) END"
    )
    out = (
        df.withColumn("_pps_c", c)
        .withColumn("_pps_cum", F.sum("_pps_c").over(wrun))
        .withColumn("_pps_tot", F.sum("_pps_c").over(wall))
        .withColumn("n_copies", F.expr(nc))
        .filter(F.col("n_copies") > 0)
        .drop("_pps_c", "_pps_cum", "_pps_tot")
    )
    return out


def percentile_normalize(
    df: DataFrame,
    value_col: str,
    *,
    by: list[str] | None = None,
    out_col: str = "pct_bp",
) -> DataFrame:
    """Quantile-normalize a score within each group: every row gets its
    within-group percentile rank as EXACT integer basis points —
    ``(rank-1) * 10000 DIV (n-1)`` (PERCENT_RANK's formula with the
    double division cleared), ties sharing the same rank exactly like
    SQL RANK(). The cross-source score equalizer: heterogeneous quality
    scores (different models, different scales) become comparable
    before a global mixing/selection cut.

    NULL values get NULL. Single-row groups (n=1) get 0 (PERCENT_RANK
    convention). One shuffle on ``by``; per-group sort-task bound as
    with every exact rank; for the global case prefer a hash-bucket
    pseudo-group or the distributed-rank path (quantile_buckets).
    """
    reserved = {out_col, "_pn_r", "_pn_n"}
    clash = sorted(reserved & set(df.columns))
    if clash:
        raise ValueError(f"percentile_normalize reserves column names {clash}")
    part = [F.col(c) for c in (by or [])]
    v = F.col(value_col)
    wr = W.partitionBy(*part).orderBy(v.asc_nulls_last())
    wall = W.partitionBy(*part)
    return (
        df.withColumn("_pn_r", F.rank().over(wr))
        .withColumn("_pn_n", F.count(v).over(wall))
        .withColumn(
            out_col,
            F.when(v.isNull(), F.lit(None).cast("long")).otherwise(
                F.when(F.col("_pn_n") > 1,
                       F.expr("(_pn_r - 1) * 10000 DIV (_pn_n - 1)"))
                .otherwise(F.lit(0))
            ),
        )
        .drop("_pn_r", "_pn_n")
    )


def curriculum_order(
    df: DataFrame,
    score_col: str,
    *,
    id_cols: list[str],
    n_tiers: int = 4,
    salt: str = "curriculum",
    dense_positions: bool = False,
) -> DataFrame:
    """Deterministic curriculum manifest: rows are assigned a
    difficulty tier (exact distributed NTILE over ``score_col``, easy
    = tier 1) and a global ``position`` that round-robins the tiers —
    position k serves tier (k−1) % n_tiers + 1 — so consuming the
    manifest in position order feeds the learner a steady easy→hard
    mix instead of a sorted ramp, while each tier's internal order is
    a salted-hash shuffle (md5 of the ids — deterministic across runs,
    engines, partitionings). The anti-curriculum / curriculum ablation
    pair is one ORDER BY flip away.

    Output: ``id_cols`` + ``score_col`` + ``tier`` + ``position``
    (1-based, unique, monotone-consumable — NOT dense by default: gaps
    appear whenever tiers are unequal; sort by position, don't index
    by it). ``dense_positions=True`` adds ONE more distributed global
    rank over the gapped positions, yielding true 1..N row indices for
    consumers that index rather than sort — same interleave order,
    one extra shuffle.

    Positions are exact integer arithmetic on per-tier ranks: with
    rows r_t in tier t ordered 1..n_t, position = (r_t − 1)·n_tiers +
    t. When tiers are UNEQUAL (total % n_tiers != 0, or the score
    distribution ties), the formula still yields unique positions but
    leaves gaps where exhausted tiers would have served — exactly
    what round-robin with exhausted tiers does; consumers must treat
    position as an ordering key, not a 1..N row index.

    Plan: quantile_buckets' distributed global NTILE (range-
    partitioned rank, never a one-partition window), then ONE more
    distributed global rank over (tier, hash) — contiguous per tier,
    so per-tier rank falls out by subtracting each tier's offset,
    which comes from a tier-cardinality count table joined broadcast.
    No driver collect beyond the prefix-sum offset maps.
    """
    if n_tiers < 2:
        raise ValueError("n_tiers must be >= 2")
    if not id_cols:
        raise ValueError("curriculum_order requires id columns")
    reserved = {"tier", "position", "_cu_h", "_cu_r", "_cu_off"}
    clash = sorted(reserved & set(id_cols))
    if clash:
        raise ValueError(f"curriculum_order reserves column names {clash}")
    from ..operators.rank import _global_row_number
    from .stats import quantile_buckets

    # project EARLY: the distributed-rank machinery persists its input
    # frame to pin range boundaries, so an unprojected corpus would
    # cache (and scan) every column — including the document text —
    # for a manifest that needs only ids + score (caught by the r10
    # plan audit: the curriculum scan read all 5 document columns)
    slim = df.select(*id_cols, score_col)
    tiered = quantile_buckets(
        slim.filter(F.col(score_col).isNotNull()), score_col, int(n_tiers),
        tiebreak=list(id_cols), bucket_col="tier",
    ).withColumn(
        "_cu_h",
        F.md5(F.concat_ws("|", F.lit(salt),
                          *[F.col(c).cast("string") for c in id_cols])),
    )
    from ..operators.rank import _global_row_number_with_total

    ranked, total = _global_row_number_with_total(
        tiered,
        [F.col("tier").asc(), F.col("_cu_h").asc()]
        + [F.col(c).asc() for c in id_cols],
        "_cu_r",
    )
    # Tier offsets in CLOSED FORM from the total the rank machinery's
    # driver offset map already holds: quantile_buckets' exact-NTILE
    # split gives tier t (1-based) exactly q+1 rows for t <= rem and q
    # otherwise (q = total DIV n_tiers, rem = total % n_tiers), so the
    # rank offset of tier t is (t-1)*q + min(t-1, rem). The former
    # count-per-tier aggregate + window + broadcast join attached the
    # same numbers at runtime while re-referencing the whole ranked
    # subtree in the plan (r11 plan audit: docs_curriculum_dense at 240
    # Exchange nodes, largely from this doubling).
    q, rem = int(total) // int(n_tiers), int(total) % int(n_tiers)
    off = (
        (F.col("tier") - 1) * F.lit(q)
        + F.least(F.col("tier") - 1, F.lit(rem))
    ).cast("long")
    out = (
        ranked.select(
            *id_cols, score_col, F.col("tier").cast("long").alias("tier"),
            ((F.col("_cu_r") - off - 1) * int(n_tiers)
             + F.col("tier")).cast("long").alias("position"),
        )
    )
    if dense_positions:
        out = _global_row_number(
            out, [F.col("position").asc()], "_cu_dense"
        ).select(
            *id_cols, score_col, "tier",
            F.col("_cu_dense").cast("long").alias("position"),
        )
    return out
