"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one or more docetl_spark operators
(SURVEY.md §2 inventory) through the engine's public API, and has a
matching ``oracle_sql()`` ANSI-SQL equivalent for the DuckDB gate.

Determinism rules used throughout (so Spark and DuckDB hash-match):
- money sums go through CAST(x AS DECIMAL(18,4)) (exact, associative),
  then back to DOUBLE;
- timestamps surface as epoch seconds (BIGINT) or formatted dates,
  never raw timestamp columns;
- every score is ROUND()ed and every top-k has an explicit id tiebreak;
- LLM-parameterized ops run a FakeBackend whose rules are mirrored as
  SQL CASE expressions.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from docetl_spark import FakeBackend, ResilientBackend, SemanticFrame
from docetl_spark.functions import dedup, similarity, text, timeseries, training
from docetl_spark.operators import gather as gather_op, link_resolve as link_resolve_op, sample as sample_op
from docetl_spark.sources.readers import normalize_epoch_nanos, read_parquet, set_nanos_conf_if_needed

# ---------------------------------------------------------------- helpers

def _epoch_s(c: str = "ts") -> F.Column:
    """Epoch-ns -> epoch-s with exact FLOOR semantics: bare DIV truncates
    toward zero, so pre-1970 (negative) nanos would round UP and diverge
    from the DuckDB oracles' `//` floor division (the repo-wide
    `(x - pmod(x, w)) DIV w` pattern)."""
    return F.expr(f"({c} - pmod({c}, 1000000000)) DIV 1000000000")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) in some
        # testdata generations (Spark 4 rejects it unless read as raw
        # nanos BIGINT) and TIMESTAMP(MICROS)->TIMESTAMP_NTZ in others;
        # normalize both to epoch-nanos BIGINT for integer epoch math.
        # The nanosAsLong conf is footer-sniffed and only set when the
        # file truly carries nanos — no global mutation otherwise.
        set_nanos_conf_if_needed(spark, path)
        return normalize_epoch_nanos(read_parquet(spark, path))
    return read_parquet(spark, path)


def _sf(spark: SparkSession, sf_dir: str, name: str, backend=None) -> SemanticFrame:
    return SemanticFrame.from_df(_t(spark, sf_dir, name), backend=backend)


def _dec(col: str) -> F.Column:
    return F.col(col).cast("decimal(18,4)")


# ---------------------------------------------------------------- queries

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-style pricing summary (scan→filter→group_agg,
    all native: map-side partial agg + pushed-down shipdate filter)."""
    li = _sf(spark, sf_dir, "lineitem")
    return (
        li.where("l_shipdate <= timestamp '1998-09-02 00:00:00'")
        .group_agg(
            ["l_returnflag", "l_linestatus"],
            sum_qty=F.sum(_dec("l_quantity")).cast("double"),
            sum_base_price=F.sum(_dec("l_extendedprice")).cast("double"),
            sum_disc_price=F.sum((_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount")))).cast("double"),
            count_order=F.count(F.lit(1)),
        )
        .df
    )


def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join chain + agg + deterministic top-10 (shipping priority)."""
    cust = _sf(spark, sf_dir, "customer").where("c_mktsegment = 'BUILDING'")
    orders = _sf(spark, sf_dir, "orders").where("o_orderdate < timestamp '1998-01-01 00:00:00'")
    li = _sf(spark, sf_dir, "lineitem").where("l_shipdate > timestamp '1998-01-01 00:00:00'")
    joined = li.join(orders, on=[F.expr("l_orderkey = o_orderkey")]).join(
        cust, on=[F.expr("o_custkey = c_custkey")], broadcast=True
    )
    return (
        joined.group_agg(
            ["l_orderkey", "o_orderpriority"],
            revenue=F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))).cast("double"),
            o_orderdate_s=F.date_format(F.first("o_orderdate"), "yyyy-MM-dd"),
        )
        .order_by(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .df
    )


def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """region→nation→customer→orders→lineitem star join, revenue by nation."""
    region = _sf(spark, sf_dir, "region").where("r_name = 'ASIA'")
    nation = _sf(spark, sf_dir, "nation")
    cust = _sf(spark, sf_dir, "customer")
    orders = _sf(spark, sf_dir, "orders")
    li = _sf(spark, sf_dir, "lineitem")
    joined = (
        li.join(orders, on=[F.expr("l_orderkey = o_orderkey")])
        .join(cust, on=[F.expr("o_custkey = c_custkey")])
        .join(nation, on=[F.expr("c_nationkey = n_nationkey")], broadcast=True)
        .join(region, on=[F.expr("n_regionkey = r_regionkey")], broadcast=True)
    )
    return joined.group_agg(
        ["n_name"],
        revenue=F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))).cast("double"),
        n_orders=F.countDistinct("l_orderkey"),
    ).df


def q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pushed-down range filter + single global aggregate."""
    li = _sf(spark, sf_dir, "lineitem")
    return (
        li.where(
            "l_shipdate >= timestamp '1996-01-01 00:00:00' AND l_shipdate < timestamp '1997-01-01 00:00:00'"
            " AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"
        )
        .group_agg([], revenue=F.sum(_dec("l_extendedprice") * _dec("l_discount")).cast("double"), n=F.count(F.lit(1)))
        .df
    )


def code_filter_highvalue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """code_filter (expression fast path) + projection."""
    return (
        _sf(spark, sf_dir, "orders")
        .code_filter("o_totalprice > 300000 AND o_orderstatus = 'O'")
        .select("o_orderkey", "o_custkey", F.col("o_totalprice"))
        .df
    )


def code_map_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """code_map: per-row Python transform (Arrow-batched), exact integer
    cents so the Python-float math matches DuckDB bit-for-bit."""
    import math

    def enrich(row: dict) -> dict:
        rev = row["l_extendedprice"] * (1.0 - row["l_discount"])
        return {
            "revenue_cents": int(math.floor(rev * 100.0 + 0.5)),
            "high_qty": bool(row["l_quantity"] >= 30.0),
        }

    return (
        _sf(spark, sf_dir, "lineitem")
        # project BEFORE the python map: mapInPandas is a pruning barrier,
        # so the scan must be narrowed explicitly (ReadSchema: 5 cols, not 16)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_quantity")
        .code_map(enrich, {"revenue_cents": "int", "high_qty": "bool"})
        .select("l_orderkey", "l_linenumber", "revenue_cents", "high_qty")
        .df
    )


def code_reduce_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """code_reduce: Python group aggregator (integer-exact stats)."""

    def stats(items: list[dict]) -> dict:
        cents = [int(round(i["c_acctbal"] * 100.0)) for i in items]
        return {
            "n_customers": len(items),
            "acctbal_cents": sum(cents),
            "max_cents": max(cents),
            "min_cents": min(cents),
        }

    return (
        _sf(spark, sf_dir, "customer")
        .code_reduce(
            "c_nationkey",
            stats,
            {"n_customers": "int", "acctbal_cents": "int", "max_cents": "int", "min_cents": "int"},
            name="natstats",
        )
        .df
    )


def split_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split op, delimiter method, one word per chunk."""
    return (
        _sf(spark, sf_dir, "documents")
        .split("text", "delimiter", {"delimiter": " "}, name="split", doc_id="doc_id")
        .select("doc_id", "text_chunk", "split_chunk_num")
        .df
    )


def split_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split op with num_splits_to_group=10 (chunk re-grouping)."""
    return (
        _sf(spark, sf_dir, "documents")
        .split("text", "delimiter", {"delimiter": " ", "num_splits_to_group": 10}, name="split", doc_id="doc_id")
        .select("doc_id", "text_chunk", "split_chunk_num")
        .df
    )


def unnest_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unnest (explode-in-place) + aggregation: corpus word frequencies."""
    return (
        _sf(spark, sf_dir, "documents")
        .with_columns(word=F.split(F.col("text"), " ", -1))
        .unnest("word")
        .group_agg(["word"], freq=F.count(F.lit(1)))
        .where("freq >= 100")
        .df
    )


def gather_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gather op: prev/next context windows over per-user event streams."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    chunks = ev.withColumn("rn", F.row_number().over(w).cast("long")).select(
        "user_id", "rn", "event_type"
    )
    out = (
        SemanticFrame.from_df(chunks)
        .gather(
            "event_type",
            "user_id",
            "rn",
            peripheral_chunks={"previous": {"tail": {"count": 1}}, "next": {"head": {"count": 1}}},
        )
        .select("user_id", "rn", F.col("event_type_rendered"))
    )
    return out.df


def sample_first20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sample first (positional head with explicit order)."""
    df = _t(spark, sf_dir, "orders")
    out = sample_op.sample_first(df, 20, order_by=[F.col("o_orderdate").asc(), F.col("o_orderkey").asc()])
    return out.select("o_orderkey", "o_custkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_s"))


def sample_uniform_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deterministic hash-Bernoulli uniform sample (~12.5%)."""
    df = _t(spark, sf_dir, "lineitem").withColumn(
        "_k", F.concat(F.col("l_orderkey").cast("string"), F.lit("-"), F.col("l_linenumber").cast("string"))
    )
    sampled = df.filter(F.substring(F.md5(F.col("_k")), 1, 1) < F.lit("2"))
    return sampled.select("l_orderkey", "l_linenumber", "l_quantity")


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stratified first-k per group (window row_number)."""
    df = _t(spark, sf_dir, "lineitem")
    out = sample_op.sample_stratified_first(
        df, 5, "l_returnflag", order_by=[F.col("l_orderkey").asc(), F.col("l_linenumber").asc()]
    )
    return out.select("l_returnflag", "l_orderkey", "l_linenumber")


_QUERY_VEC = [((i * 37) % 19 - 9) / 10.0 for i in range(64)]  # fixed deterministic query


def topk_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """topk op, embedding method: cosine top-20 against a fixed query."""
    out = (
        _sf(spark, sf_dir, "embeddings")
        .topk("embedding", 20, query_vector=_QUERY_VEC, embedding_col="embedding",
              tiebreak=["vec_id"], round_score=4, name="topk")
        .select("vec_id", F.col("_topk_score").alias("score"), F.col("_topk_rank").alias("rank"))
    )
    return out.df


def topk_fts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """topk op, BM25 full-text method."""
    out = (
        _sf(spark, sf_dir, "documents")
        .topk("fts", 20, query="spark join merge window", keys=["text"], id_cols=["doc_id"],
              tiebreak=["doc_id"], round_score=4, name="topk")
        .select("doc_id", F.col("_topk_score").alias("score"), F.col("_topk_rank").alias("rank"))
    )
    return out.df


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact dedup on normalized-text fingerprint: documents unioned with
    an uppercased copy collapse back to one row each."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    variants = docs.withColumn("variant", F.lit(0)).unionByName(
        docs.withColumn("text", F.upper(F.col("text"))).withColumn("variant", F.lit(1))
    )
    out = dedup.exact_dedup(variants, "text", order_by=[F.col("variant").asc(), F.col("doc_id").asc()])
    return out.select("doc_id", "variant", "text")


def minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs + exact 3-gram-shingle Jaccard verify.
    Oracle computes exact Jaccard over shingle-sharing pairs; LSH with
    128 hashes / 32 bands has ~1-5e-8 miss rate at j>=0.8."""
    from docetl_spark import widen_scan

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # a small single-row-group parquet scan is ONE partition; widen so
    # the shingle + minhash pandas UDFs use every core (no-op when the
    # scan already has >= defaultParallelism splits)
    shingled = widen_scan(docs).withColumn("_sh", text.shingles(F.col("text"), 3)).cache()
    with_sig = shingled.withColumn("_minhash", dedup.minhash_from_shingles(F.col("_sh"), 128))
    cand = dedup.lsh_candidate_pairs(with_sig, "doc_id", "_minhash", num_hashes=128, bands=32)
    verified = dedup.jaccard_verify(
        cand, shingled, "doc_id", "text", threshold=0.8, shingle_col="_sh"
    )
    return verified.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text-analysis functions: token count, quality score, lang id,
    fingerprint — all pure JVM expressions."""
    t = F.col("text")
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        text.token_count(t).alias("n_tokens"),
        F.round(text.avg_token_len(t), 6).alias("avg_tok_len"),
        text.quality_score(t).alias("quality"),
        text.lang_id(t).alias("lang_guess"),
        text.fingerprint(t).alias("fp"),
    )


def trim_repeated_lines_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intra-document repetition cleanup (functions/text.py
    trim_repeated_lines): documents are given line structure (sentences
    -> lines) with the first line appended twice, then exact duplicate
    lines are dropped keeping first occurrence/order — pure JVM
    higher-order expressions, no UDF, no shuffle."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    lined = F.regexp_replace(F.col("text"), r"\. ", "\n")
    first = F.substring_index(lined, "\n", 1)
    synthetic = F.concat_ws("\n", lined, first, first)
    return docs.select(
        "doc_id", text.trim_repeated_lines(synthetic).alias("clean_text")
    )


def substring_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span dedup (Lee et al. 2022 family;
    functions/passages.py substring_dedup): every overlapping 8-token
    window keeps its globally-first occurrence, other occurrences merge
    into per-doc duplicated spans which are cut from the text. Unlike
    passage_dedup's aligned chunks this removes verbatim duplication at
    arbitrary offsets."""
    from docetl_spark.functions import passages

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return passages.substring_dedup(docs, "text", id_col="doc_id", min_tokens=8)


def sn_blocking_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo 1995;
    resolve.sorted_neighborhood_pairs): rank docs by a normalized text
    prefix, pair rows within 5 rank positions — distributed rank via
    range partition + offset map, neighbors via bucket equi-joins,
    never a 1-partition window or an O(n^2) cross join."""
    from docetl_spark.operators import resolve as resolve_op

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return resolve_op.sorted_neighborhood_pairs(
        docs, "doc_id",
        key="lower(substring(coalesce(text, ''), 1, 12))",
        window=5,
    )


def winnow_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing duplicate-candidate pairs (passages.winnowed_pairs;
    Schleimer et al. 2003): min-hash-per-sliding-window fingerprints
    (rightmost tie rule) with the deterministic guarantee that any
    verbatim overlap of window+k-1 = 8 tokens shares a fingerprint;
    pairs share >= 2 fps, boilerplate fps capped at 20 docs."""
    from docetl_spark.functions import passages

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return passages.winnowed_pairs(
        docs, "text", id_col="doc_id", k=5, window=4, min_common=2, max_doc_freq=20
    )


def quality_top_quartile_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-quartile quality cut (training.select_top_frac;
    the CCNet-style per-language keep-the-best selection): exact
    percent_rank semantics with doc_id tiebreak, one window per
    language."""
    from docetl_spark.functions import training

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", text.quality_score(F.col("text")).alias("quality")
    )
    return training.select_top_frac(
        docs, "quality", 0.25, by=["lang"], tiebreak=["doc_id"]
    )


def cap_per_source_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (training.cap_per_group; the RefinedWeb/
    C4 anti-spam host cap): keep the 15 best-quality docs per source,
    quality desc with doc_id tiebreak."""
    from docetl_spark.functions import training

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", text.quality_score(F.col("text")).alias("quality")
    )
    return training.cap_per_group(
        docs, ["source"], 15, order=[F.col("quality").desc(), F.col("doc_id")]
    )


def sem_map_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semantic map with a deterministic rule backend (fast→positive,
    slow→negative, else neutral)."""
    be = FakeBackend(
        rules={
            "sentiment": lambda row: (
                "positive" if "fast" in row["text"] else ("negative" if "slow" in row["text"] else "neutral")
            )
        }
    )
    out = (
        _sf(spark, sf_dir, "documents", backend=be)
        .map("Classify the sentiment of: {{ input.text }}", {"sentiment": "str"})
        .select("doc_id", "sentiment")
    )
    return out.df


def sem_filter_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semantic filter: keyword-containment rule (decision key popped)."""
    be = FakeBackend(rules={"keep": lambda row: "join" in row["text"]})
    out = (
        _sf(spark, sf_dir, "documents", backend=be)
        .filter("Does the text mention 'join'? {{ input.text }}", {"keep": "bool"})
        .select("doc_id", "lang")
    )
    return out.df


def sem_reduce_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semantic reduce: per-lang group aggregate with rule backend +
    _counts_prereduce_<name> system column."""
    be = FakeBackend(
        rules={
            "n_docs": lambda items: len(items),
            "first_doc": lambda items: min(i["doc_id"] for i in items),
        }
    )
    out = (
        _sf(spark, sf_dir, "documents", backend=be)
        .reduce("lang", "Summarize {{ inputs | length }} docs", {"n_docs": "int", "first_doc": "int"},
                name="langagg", sort_within_group=["doc_id"])
        .select("lang", "n_docs", "first_doc", F.col("_counts_prereduce_langagg").alias("group_size"))
    )
    return out.df


def ann_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    """similarity search: exact cosine top-10 per query vector."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    return similarity.brute_force_topk(emb, queries, 10, round_score=4)


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-indexed similarity search (similarity.py ivf_index/ivf_topk):
    k-means lists + probe pruning. Probing ALL lists makes the result
    exact, so the brute-force SQL oracle applies — the approximate
    (n_probe < n_lists) path is covered by test_similarity_blocking."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    indexed, cents = similarity.ivf_index(emb, n_lists=8)
    return similarity.ivf_topk(indexed, cents, qv, 10, n_probe=8, round_score=4)


def ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistent IVF index artifact (functions/vector_index.py —
    reference retrievers/lancedb.py persists and reuses its on-disk
    index): build once, SAVE as parquet+manifest (assignments
    partitioned by list id), then answer the query from the RELOADED
    artifact — zero embed/fit work on the read path (the zero-call
    contract is pinned by BackendMetrics in tests/test_vector_index).
    Probing all lists makes the result exact, so the ann_ivf
    brute-force SQL oracle applies verbatim."""
    import tempfile

    from docetl_spark.functions import vector_index as vx

    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    indexed, cents = similarity.ivf_index(emb, n_lists=8)
    path = tempfile.mkdtemp(prefix="ivf_artifact_")
    vx.save_ivf_index(indexed, cents, path)
    return vx.ivf_query(spark, path, qv, 10, n_probe=8, round_score=4)


def _sessionize_events(spark: SparkSession, sf_dir: str, hot_key_bucket: int | None) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn("_e", _epoch_s("ts"))
    sess = timeseries.sessionize(
        ev, keys=["user_id"], ts_col="_e", gap=1800,
        tiebreak="event_id", hot_key_bucket=hot_key_bucket,
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("_e").alias("start_epoch"),
            F.max("_e").alias("end_epoch"),
        )
    )


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sessionization: 30-min-gap sessions per user (pure window exprs;
    timeseries.sessionize default plan — one window per key)."""
    return _sessionize_events(spark, sf_dir, None)


def events_sessionize_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the skew-safe sessionize plan: 6-hour (key, bucket) windows with
    summary-level carry/offset merge — results identical to
    events_sessionize (same oracle), max task = one key's rows in one
    bucket instead of one key's full timeline."""
    return _sessionize_events(spark, sf_dir, 6 * 3600)


def _rolling_events(spark: SparkSession, sf_dir: str, hot_key_bucket: int | None) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    out = timeseries.rolling_features(
        ev.withColumn("_cents", cents), "ts",
        keys=["user_id"],
        value_aggs={"rolling_cents": F.sum("_cents")},
        lookback_rows=10,
        tiebreak=["event_id"],
        hot_key_bucket=hot_key_bucket,
    )
    gap_ns = F.col("ts") - F.col("prev_ts")  # ts is epoch-nanos BIGINT
    return out.select(
        "event_id", "user_id", "event_idx",
        gap_ns.alias("gap_ns"), "rolling_n", "rolling_cents",
    )


def events_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling-window features (timeseries.rolling_features):
    event index, exact epoch-nanos gap to the previous event, and
    trailing-10 count/value-cents sum — ONE shared window spec, one
    shuffle on user_id, frames bounded at 10 rows."""
    return _rolling_events(spark, sf_dir, None)


def events_rolling_features_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the skew-safe rolling-features plan (hot_key_bucket=6h): global
    index from (key, ts-bucket) windows + trailing-k frames inside
    <=2k-row (key, index-bucket) partitions with full-previous-bucket
    carry — results identical to events_rolling_features (same oracle);
    for keys whose timeline outgrows one task."""
    return _rolling_events(spark, sf_dir, 6 * 3600 * 1_000_000_000)  # 6h in ns


def events_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events rollup: exact-integer value stats per (user, event_type)."""
    ev = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    return ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("value_cents"),
        F.max(cents).alias("max_cents"),
    )


def resolve_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """resolve op: block on lang, adjudicate equality, cluster, annotate.
    Full path: candidate pairs -> pairwise UDF -> connected components ->
    majority-vote canonicalization -> broadcast annotate."""
    be = FakeBackend(rules={"is_match": lambda ctx: ctx[0]["lang"] == ctx[1]["lang"]})
    out = (
        _sf(spark, sf_dir, "documents", backend=be)
        .select("doc_id", "lang")
        .resolve(
            id_col="doc_id",
            comparison_prompt="Same language? {{ input1.lang }} vs {{ input2.lang }}",
            output_schema={"lang": "str"},
            blocking_keys=["lang"],
            compare_cols=["lang"],
        )
        .select("doc_id", "lang", "_cluster_id")
    )
    return out.df


def resolve_limited_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """resolve's limit_comparisons pair budget (reference
    resolve.py:526-547, deterministic variant): lang key buckets are
    row-capped at the smallest K with K(K-1)/2 >= 500 (md5-of-id order,
    K=33) BEFORE the self-join — the 100-TB guard against quadratic
    blocked-pair tables — then the global deterministic cut keeps the
    first 500 pairs by (md5('42|id_a|id_b'), ids). Every stage is
    SQL-replayable, so the oracle reproduces the exact pair set."""
    from docetl_spark.operators.resolve import candidate_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return candidate_pairs(
        docs, "doc_id", blocking_keys=["lang"], limit_comparisons=500,
    ).select("id_a", "id_b")


def equijoin_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """equijoin op: expression blocking -> UDF adjudication -> per-left
    match limit (row_number window)."""
    be = FakeBackend(rules={"is_match": lambda ctx: (ctx[0]["p_partkey"] + ctx[1]["s_suppkey"]) % 7 == 0})
    part = _sf(spark, sf_dir, "part", backend=be).select("p_partkey", "p_name")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    out = part.equijoin(
        SemanticFrame.from_df(supp),
        comparison_prompt="match? {{ left.p_partkey }} {{ right.s_suppkey }}",
        left_keys=["p_partkey"],
        right_keys=["s_suppkey"],
        blocking_conditions=["left.p_partkey % 50 = right.s_suppkey % 50"],
        limits={"left": 1},
    )
    return out.select("p_partkey", "p_name", "s_suppkey", "s_name").df


def equijoin_limited(spark: SparkSession, sf_dir: str) -> DataFrame:
    """equijoin with limit_comparisons: blocked pairs capped by the
    stratified length sampler BEFORE adjudication (cost-control knob,
    reference equijoin.py:397-421). Supplier rows are longer (18-char
    names vs 7-12), so the supplier side is the stratum key; each
    supplier keeps its longest parts, budget split evenly across
    suppliers in key order. Deterministic end-to-end, so the oracle
    reproduces the exact kept-pair set."""
    be = FakeBackend(rules={"is_match": lambda ctx: (ctx[0]["p_partkey"] + ctx[1]["s_suppkey"]) % 3 == 0})
    part = _sf(spark, sf_dir, "part", backend=be).select("p_partkey", "p_name")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    out = part.equijoin(
        SemanticFrame.from_df(supp),
        comparison_prompt="match? {{ left.p_partkey }} {{ right.s_suppkey }}",
        left_keys=["p_partkey"],
        right_keys=["s_suppkey"],
        blocking_conditions=["left.p_partkey % 20 = right.s_suppkey % 20"],
        limit_comparisons=1000,
    )
    return out.select("p_partkey", "p_name", "s_suppkey", "s_name").df


def rank_likert_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank op, likert method: deterministic rating (= token count),
    desc with doc_id tiebreak, 1-based _rank annotation."""
    be = FakeBackend(rules={"rating": lambda row: float(len(row["text"].split()))})
    out = (
        _sf(spark, sf_dir, "documents", backend=be)
        .select("doc_id", "text")
        .rank(method="likert", prompt="Rate the doc: {{ input.text }}", direction="desc", tiebreak=["doc_id"])
        .select("doc_id", "_rank")
    )
    return out.df


def rank_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank op, comparison (QURK) method: deterministic md5-draw batch
    membership, one backend 'ranking' call per batch (distributed via
    applyInPandas), head-to-head win counts, global order by wins desc.
    The batch ranking rule (token count desc, doc_id asc) and the md5
    draw are both DuckDB-replayable, so the whole method is
    hash-checked."""
    def rank_rule(docs):
        def toks(d):
            return len([t for t in (d.get("text") or "").split(" ") if t])
        return sorted(range(len(docs)), key=lambda j: (-toks(docs[j]), docs[j]["doc_id"]))

    be = FakeBackend(rules={"ranking": rank_rule})
    out = (
        _sf(spark, sf_dir, "documents", backend=be)
        .select("doc_id", "text")
        .rank(method="comparison", prompt="rank by length {{ inputs }}",
              tiebreak=["doc_id"], batch_size=10, num_batches=200)
        .select("doc_id", "_rank")
    )
    return out.df


def extract_regex_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extract op, regex strategy: backend supplies a pattern, spans are
    applied row-locally and newline-joined."""
    be = FakeBackend(rules={"patterns": lambda row: [r"join\w*"]})
    out = (
        _sf(spark, sf_dir, "documents", backend=be)
        .select("doc_id", "text")
        .extract("Extract join-words from {{ input.text }}", ["text"], strategy="regex")
        .select("doc_id", F.col("text_extracted").alias("mentions"))
    )
    return out.df


def link_resolve_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """link_resolve op: dangling link values (uppercased langs) repaired
    to canonical ids by normalized-equality adjudication."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.array(F.upper(F.col("lang")), F.lit("zz-unknown")).alias("links")
    )
    out = link_resolve_op.link_resolve(docs, FakeBackend(), id_key="lang", link_key="links")
    return out.select("doc_id", F.array_join("links", ",").alias("links_s"))


def parallel_map_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parallel_map op: two independent prompts filling disjoint keys."""
    be = FakeBackend(
        rules={
            "sentiment": lambda row: (
                "positive" if "fast" in row["text"] else ("negative" if "slow" in row["text"] else "neutral")
            ),
            "n_tokens": lambda row: len(row["text"].split()),
        }
    )
    out = (
        _sf(spark, sf_dir, "documents", backend=be)
        .parallel_map(
            [
                {"prompt": "Sentiment of {{ input.text }}", "output_keys": ["sentiment"]},
                {"prompt": "Count tokens in {{ input.text }}", "output_keys": ["n_tokens"]},
            ],
            {"sentiment": "str", "n_tokens": "int"},
        )
        .select("doc_id", "sentiment", "n_tokens")
    )
    return out.df


def unnest_columns_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unnest_columns op: struct column flattened to top level."""
    docs = _sf(spark, sf_dir, "documents").with_columns(
        stats=F.struct(
            text.token_count(F.col("text")).alias("n_tokens"),
            F.col("lang").alias("lang_code"),
        )
    )
    return docs.select("doc_id", F.col("stats")).unnest_columns("stats").df


def add_uuid_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """add_uuid op (deterministic id mode for oracle checking)."""
    return (
        _sf(spark, sf_dir, "orders")
        .add_uuid("row_id", deterministic_from="o_orderkey")
        .select("o_orderkey", "row_id")
        .df
    )


def split_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split op, token_count method: fixed 50-token windows over the
    BPE-ish pre-tokenization (tokens keep their leading space)."""
    return (
        _sf(spark, sf_dir, "documents")
        .split("text", "token_count", {"num_tokens": 50}, name="tsplit", doc_id="doc_id")
        .select("doc_id", "text_chunk", "tsplit_chunk_num")
        .df
    )


def sample_outliers_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sample op, outliers method: keep rows within 1 std of the
    embedding centroid (distance cutoff from per-dimension moments)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = sample_op.sample_outliers(emb, "embedding", std=1.0, keep=False)
    return out.select("vec_id")


def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding-cosine near-dup pairs: exact all-pairs via broadcast
    matrix + per-batch numpy matmul (gated; LSH is the beyond-gate path).
    Threshold applies to the rounded score so the oracle row set is
    identical."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.brute_force_pairs(emb, "vec_id", "embedding", threshold=0.40, round_to=4)


def split_gather_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical document pipeline: split (10-word chunks) -> gather
    (prev/next context windows). The gather compiles to the JVM window
    fast path; end-to-end split+gather parity vs the oracle's CTE."""
    return (
        _sf(spark, sf_dir, "documents")
        .split("text", "delimiter", {"delimiter": " ", "num_splits_to_group": 10}, name="split", doc_id="doc_id")
        .gather(
            "text_chunk",
            "split_id",
            "split_chunk_num",
            peripheral_chunks={"previous": {"tail": {"count": 1}}, "next": {"head": {"count": 1}}},
        )
        .select("doc_id", "split_chunk_num", F.col("text_chunk_rendered"))
        .df
    )


def gather_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gather with doc_header_key: each 10-word chunk carries one header
    (level 1 every third chunk, level 2 otherwise); the rendered output
    includes the '_Current Section:_' breadcrumb — the level-1 section a
    level-2 chunk sits under (reference gather.py:294-363). The header
    pattern makes the hierarchy state a closed-form window expression,
    so the breadcrumb is fully oracle-checked."""
    sf = (
        _sf(spark, sf_dir, "documents")
        .split("text", "delimiter", {"delimiter": " ", "num_splits_to_group": 10}, name="split", doc_id="doc_id")
    )
    chunked = sf.df.withColumn(
        "headers",
        F.array(F.struct(
            F.concat(F.lit("H"), F.col("split_chunk_num").cast("string")).alias("header"),
            F.when(F.col("split_chunk_num") % 3 == 1, F.lit(1)).otherwise(F.lit(2)).cast("long").alias("level"),
        )),
    )
    out = gather_op.gather(
        chunked, "text_chunk", "split_id", "split_chunk_num",
        peripheral_chunks={"previous": {"tail": {"count": 1}}, "next": {"head": {"count": 1}}},
        doc_header_key="headers",
    )
    return out.select("doc_id", "split_chunk_num", "text_chunk_rendered")


class _FoldCountBackend(FakeBackend):
    """Deterministic fold backend: the accumulator rides the rendered
    fold prompt; totals accumulate to the group size (SQL: COUNT(*))."""

    def complete(self, prompt: str, output_schema: dict, context) -> dict:
        if prompt.startswith("fold"):
            prev = int(prompt.split()[1])
            return {"n_docs": prev + len(context)}
        return {"n_docs": len(context)}


def sem_reduce_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semantic reduce, incremental fold strategy: per-lang counts folded
    in batches of 50 through the accumulator prompt."""
    out = (
        _sf(spark, sf_dir, "documents", backend=_FoldCountBackend())
        .reduce(
            "lang",
            "count {{ inputs | length }}",
            {"n_docs": "int"},
            name="fold",
            sort_within_group=["doc_id"],
            fold_prompt="fold {{ output.n_docs }} plus {{ inputs | length }}",
            fold_batch_size=50,
        )
        .select("lang", "n_docs", F.col("_counts_prereduce_fold").alias("group_size"))
    )
    return out.df


class _SaltedFoldBackend(_FoldCountBackend):
    """Adds the associative merge rule: total = sum of partial counts."""

    def complete(self, prompt: str, output_schema: dict, context) -> dict:
        if prompt.startswith("merge"):
            return {"n_docs": sum(int(o["n_docs"]) for o in context)}
        return super().complete(prompt, output_schema, context)


def sem_reduce_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semantic reduce with distribute_folds: rows salt into 4 stripes,
    each (lang, stripe) folds in its OWN task, partials merge in a
    second grouped pass — the skew-safe plan (a giant group never lands
    in one applyInPandas task). Stripe assignment is a content hash, so
    the associative count is stripe-invariant and the plain GROUP BY
    oracle applies."""
    out = (
        _sf(spark, sf_dir, "documents", backend=_SaltedFoldBackend())
        .reduce(
            "lang",
            "count {{ inputs | length }}",
            {"n_docs": "int"},
            name="salted",
            sort_within_group=["doc_id"],
            fold_prompt="fold {{ output.n_docs }} plus {{ inputs | length }}",
            fold_batch_size=50,
            merge_prompt="merge the partial counts",
            num_parallel_folds=4,
            distribute_folds=True,
        )
        .select("lang", "n_docs", F.col("_counts_prereduce_salted").alias("group_size"))
    )
    return out.df


class _CascadeBackend(FakeBackend):
    """Deterministic proxy/oracle cascade: the proxy is confident on
    docs containing fast/slow; everything else escalates to the oracle
    rule ('join' containment)."""

    def classify_logprob(self, prompt: str, labels: list[str], context):
        text = context.get("text", "") if isinstance(context, dict) else ""
        if "fast" in text:
            return "true", 0.99
        if "slow" in text:
            return "false", 0.99
        return "false", 0.5

    def complete(self, prompt: str, output_schema: dict, context) -> dict:
        return {"keep": "join" in context.get("text", "")}


class _CalibratedCascadeBackend(FakeBackend):
    """Deterministic proxy/oracle pair for BARGAIN-style calibration:
    proxy P(keep) is 0.9 for fast-docs, 0.1 for slow-docs, 0.5 otherwise;
    the oracle keeps fast-or-join docs. With guarantee=recall,
    target=0.8, delta=0.05 over a 400-doc calibration sample the
    feasible-threshold search lands on t=0.5 at every test SF (recall at
    t=0.9 bounds below 0.8; at t=0.5 it clears it), so the cascade
    proxy-drops exactly the slow-not-fast docs."""

    def classify_logprob(self, prompt: str, labels: list[str], context):
        text = context.get("text", "") if isinstance(context, dict) else ""
        if "fast" in text:
            return "true", 0.9
        if "slow" in text:
            return "false", 0.9
        return "false", 0.5

    def complete(self, prompt: str, output_schema: dict, context) -> dict:
        text = context.get("text", "") if isinstance(context, dict) else ""
        return {"keep": ("fast" in text) or ("join" in text)}


def sem_filter_cascade_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semantic filter with a CALIBRATED cascade (operators/cascade.py):
    oracle-labels a bounded sample, picks the recall-guaranteeing proxy
    threshold, then proxy-rejects below-threshold rows without oracle
    calls. Deterministic backend -> the chosen threshold (0.5) and hence
    the kept set are exactly reproducible in SQL."""
    out = (
        _sf(spark, sf_dir, "documents", backend=_CalibratedCascadeBackend())
        .filter("keep? {{ input.text }}", {"keep": "bool"},
                cascade={"guarantee": "recall", "target": 0.8, "delta": 0.05,
                         "label_budget": 400})
        .select("doc_id", "lang")
    )
    return out.df


def sem_filter_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semantic filter with proxy/oracle cascade: high-confidence proxy
    labels short-circuit; uncertain rows escalate to the full model."""
    out = (
        _sf(spark, sf_dir, "documents", backend=_CascadeBackend())
        .filter("keep? {{ input.text }}", {"keep": "bool"}, cascade={"proxy_threshold": 0.9})
        .select("doc_id", "lang")
    )
    return out.df


def sample_custom_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sample op, custom method: keep rows matching an explicit key list
    (broadcast semi join)."""
    samples = [{"o_orderkey": k} for k in (1, 7, 32, 100, 555, 1000, 4999)]
    out = sample_op.sample_custom(_t(spark, sf_dir, "orders"), samples)
    return out.select("o_orderkey", "o_custkey")


def events_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming windowed rollup, drained with an availableNow
    trigger (streaming/events.py): parquet-directory source -> 1-hour
    tumbling windows with a 2-hour watermark -> memory sink. The oracle is
    the batch-SQL equivalent — streaming/batch parity is the check."""

    from docetl_spark.streaming import events as stream_ops

    ev = stream_ops.read_events_stream(spark, f"{sf_dir}/events.parquet")
    rolled = stream_ops.windowed_rollup(ev, window="1 hour", watermark="2 hours").select(
        F.unix_timestamp("window_start").alias("window_start_epoch"),
        "event_type",
        "n",
        "value_cents",
    )
    rows = stream_ops.run_available_now(
        rolled,
        checkpoint=stream_ops.scratch_checkpoint_dir("ckpt_rollup_"),
        dedupe_keys=["window_start_epoch", "event_type"],
        shuffle_partitions=stream_ops.adaptive_state_partitions(spark, f"{sf_dir}/events.parquet"),
    )
    schema = "window_start_epoch long, event_type string, n long, value_cents long"
    return stream_ops.drained_df(spark, rows, schema)


def events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (dropDuplicatesWithinWatermark): first event
    per (user_id, event_type, hour) wins; duplicate arrivals inside the
    2-hour watermark are dropped and key state is evicted past it. Only
    the key columns are emitted, so the result is arrival-order
    independent and the oracle is a batch SELECT DISTINCT."""

    from docetl_spark.streaming import events as stream_ops

    ev = stream_ops.read_events_stream(spark, f"{sf_dir}/events.parquet").withColumn(
        # integer DIV: float division + cast misassigns hours for ts
        # within double's ~256 ns error of a second boundary
        "hour_epoch", F.expr("(ts - pmod(ts, 1000000000)) DIV 1000000000 - ((ts - pmod(ts, 1000000000)) DIV 1000000000) % 3600")
    )
    deduped = stream_ops.stream_dedup(
        ev, keys=["user_id", "event_type", "hour_epoch"], watermark="2 hours"
    ).select("user_id", "event_type", "hour_epoch")
    rows = stream_ops.run_available_now(
        deduped, checkpoint=stream_ops.scratch_checkpoint_dir("ckpt_dedup_"),
        shuffle_partitions=stream_ops.adaptive_state_partitions(spark, f"{sf_dir}/events.parquet"),
    )
    schema = "user_id long, event_type string, hour_epoch long"
    return stream_ops.drained_df(spark, rows, schema)


def stream_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dedup (streaming/events.py stream_dedup_against_
    corpus): arriving documents anti-join a STATIC fingerprint table
    (docs with doc_id % 3 == 0 stand in for the already-ingested
    corpus) — stateless stream-static join, no growing state store; the
    training-pipeline shape for deduping new data against an existing
    100 TB corpus via its (tiny) fingerprint table."""

    from docetl_spark.streaming import events as stream_ops

    fp = text.fingerprint(F.col("text"))
    stream = stream_ops.read_parquet_stream(spark, f"{sf_dir}/documents.parquet").withColumn("_fp", fp)
    corpus = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % 3 == 0)
        .select(fp.alias("_fp"))
    )
    fresh = stream_ops.stream_dedup_against_corpus(stream, corpus, on="_fp").select("doc_id")
    rows = stream_ops.run_available_now(fresh, checkpoint=stream_ops.scratch_checkpoint_dir("ckpt_sdc_"), shuffle_partitions=stream_ops.adaptive_state_partitions(spark, f"{sf_dir}/documents.parquet"))
    return stream_ops.drained_df(spark, rows, "doc_id long")


def events_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: 30-min-gap sessionization via
    applyInPandasWithState (streaming/events.py:94-137), drained with
    availableNow. Oracle = the batch window-function sessionization —
    the streaming state machine must reproduce it exactly (state sid is
    0-based; +1 aligns with the batch cumulative-sum ids)."""

    from docetl_spark.streaming import events as stream_ops

    ev = stream_ops.read_events_stream(spark, f"{sf_dir}/events.parquet")
    sess = stream_ops.sessionize_stateful(ev, gap_seconds=1800)
    rows = stream_ops.run_available_now(
        sess,
        checkpoint=stream_ops.scratch_checkpoint_dir("ckpt_sess_"),
        dedupe_keys=["user_id", "session_id"],
        shuffle_partitions=stream_ops.adaptive_state_partitions(spark, f"{sf_dir}/events.parquet"),
    )
    schema = "user_id long, session_id long, n_events long, start_epoch long, end_epoch long"
    return stream_ops.drained_df(spark, rows, schema).withColumn(
        "session_id", (F.col("session_id") + 1).cast("long")
    )


def events_stream_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-time rolling features via applyInPandasWithState
    (streaming/events.py rolling_features_stateful): per-user event
    index, exact ns gap, trailing-10 count/cents — O(lookback) state
    per user, every event emitted once. Oracle = the batch
    events_rolling_features SQL: the online state machine must
    reproduce the window-function plan exactly."""

    from docetl_spark.streaming import events as stream_ops

    ev = stream_ops.read_events_stream(spark, f"{sf_dir}/events.parquet")
    feat = stream_ops.rolling_features_stateful(
        ev.select("event_id", "user_id", "ts", "value"), lookback_rows=10
    )
    rows = stream_ops.run_available_now(
        feat,
        checkpoint=stream_ops.scratch_checkpoint_dir("ckpt_roll_"),
        dedupe_keys=["event_id"],
        shuffle_partitions=stream_ops.adaptive_state_partitions(spark, f"{sf_dir}/events.parquet"),
    )
    schema = ("event_id long, user_id long, event_idx long, gap_ns long, "
              "rolling_n long, rolling_cents long")
    return stream_ops.drained_df(spark, rows, schema)


def multimodal_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multimodal plumbing (functions/multimodal.py): text bytes stand in
    for opaque media content -> deterministic fake header decode
    (mapInPandas over the binary column) -> metadata-struct projection
    with a width filter. Bytes never explode row-per-pixel; metadata
    lives in a sibling struct so filters prune without touching bytes."""
    from docetl_spark.functions import multimodal

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("content")
    )
    out = multimodal.decode_image_meta(docs)
    return out.select(
        "doc_id",
        F.col("image_meta.width").alias("width"),
        F.col("image_meta.height").alias("height"),
        F.col("image_meta.format").alias("fmt"),
    ).filter(F.col("width") >= 32)


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multimodal 1:N kernel: video-bytes -> frame rows (frame count
    derived deterministically from byte length in the stub decoder)."""
    from docetl_spark.functions import multimodal

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("content")
    )
    out = multimodal.frame_sample(docs, every_n=30)
    return out.select("doc_id", "frame_index")


def cluster_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hierarchical cluster over precomputed embeddings (cluster.py:
    vectorized centroid-linkage, reference cluster.py:162-234). The tree
    itself is not ANSI-SQL-expressible; the oracle checks the invariant
    that every row's path starts at the all-rows root cluster."""
    out = (
        _sf(spark, sf_dir, "embeddings")
        .cluster(id_col="vec_id", embedding_col="embedding")
        .select("vec_id", F.col("clusters")[0].alias("root"))
    )
    return out.df


def quality_filter_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style rule-based quality filtering (functions/text.py
    quality_rules): word-count window, mean-word-length window, alpha-
    word ratio, sentence count — pure JVM expressions, scale-safe (the
    corpus text has no terminal punctuation, so min_sentences=1 keeps
    the sentence rule meaningful: any nonempty doc has one segment)."""
    docs = _t(spark, sf_dir, "documents")
    q = text.quality_rules(F.col("text"), min_words=50, min_sentences=1)
    return docs.select("doc_id", q.alias("_q")).select(
        "doc_id",
        F.col("_q.word_count_ok").alias("word_count_ok"),
        F.col("_q.mean_word_len_ok").alias("mean_word_len_ok"),
        F.col("_q.alpha_word_ratio_ok").alias("alpha_word_ratio_ok"),
        F.col("_q.sentence_count_ok").alias("sentence_count_ok"),
        F.col("_q.passes").alias("passes"),
    )


def sem_map_agent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agentic map (agents.py run_agent + semantic.py agent kwarg,
    reference agents.py + map.py:44,493): every row runs a bounded
    executor-side tool loop — one deterministic tool call, then a finish
    decision, then the structured final completion. The final rule is
    SQL-mirrorable (token-count bucket), so the oracle hash-checks the
    whole agentic path end-to-end."""
    import json as _json

    from docetl_spark import Agent, tool

    @tool
    def square(x: int) -> int:
        """Square a number (deterministic observation for the loop)."""
        return x * x

    be = FakeBackend(rules={
        # one tool turn, then finish: max_turns=1 bounds the loop shape
        "action": lambda ctx: "tool",
        "tool_name": lambda ctx: "square",
        "tool_args": lambda ctx: _json.dumps({"x": 7}),
        "length_bucket": lambda row: (
            "long" if len((row.get("text") or "").split()) > 55 else "short"
        ),
    })
    out = (
        _sf(spark, sf_dir, "documents", backend=be)
        .map("bucket {{ input.text }}", {"length_bucket": "str"},
             agent=Agent(tools=[square], max_turns=1))
        .select("doc_id", "length_bucket")
    )
    return out.df


def cluster_docs_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level distributed hierarchical clustering (cluster.py
    cluster_distributed): bounded-sample k-means buckets -> per-bucket
    agglomerative linkage in applyInPandas -> driver tree over bucket
    centroids. Every row's path starts at the all-rows global root
    cluster[total] — the same SQL-checkable invariant as cluster_docs,
    now exercised through the scale path (max_local_size forces >1
    bucket at every sf)."""
    from docetl_spark.operators.cluster import cluster_distributed

    emb = _t(spark, sf_dir, "embeddings")
    out = cluster_distributed(
        emb, id_col="vec_id", embedding_col="embedding", max_local_size=200, seed=11
    )
    return out.select("vec_id", F.col("clusters")[0].alias("root"))


def sem_map_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semantic map via batch_prompt (map.py:532-560): up to 32 rows per
    model call through backend.complete_batch, wrapped in
    ResilientBackend (executor-local response cache + retries + token
    bucket, api.py:588-734 analogue). Deterministic rules keep the result
    identical to the per-row map, so the same SQL oracle applies."""
    be = ResilientBackend(
        FakeBackend(
            rules={
                "sentiment": lambda row: (
                    "positive" if "fast" in row["text"] else ("negative" if "slow" in row["text"] else "neutral")
                )
            }
        ),
        namespace="drv_batch",
    )
    out = (
        _sf(spark, sf_dir, "documents", backend=be)
        .map(
            "Classify the sentiment of: {{ input.text }}",
            {"sentiment": "str"},
            batch_prompt="Classify each document:\n{% for d in inputs %}- {{ d.text }}\n{% endfor %}",
            max_batch_size=32,
        )
        .select("doc_id", "sentiment")
    )
    return out.df


def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs. Token hash is md5-low-64 (digest bytes
    8..16), reproducible in DuckDB via substr(md5(t),17,16), so the
    fingerprints — and therefore the pair set — are fully oracle-checked."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # narrow stays: with simhash_candidate_pairs' base cache the UDF runs
    # ONCE, and at this corpus size one serial md5 pass beats paying a
    # repartition (A/B: widened was ~1.7x slower warm)
    with_sh = docs.withColumn("_simhash", dedup.simhash64(F.col("text")))
    pairs = dedup.simhash_candidate_pairs(with_sh, "doc_id", "_simhash", max_hamming=3)
    return pairs.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def pack_sequences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (functions/training.py pack_sequences):
    concat-and-chunk documents into 512-token training sequences, 8
    deterministic shards (doc_id % 8), doc_id order within shard. One
    row per (doc, sequence) piece — docs crossing a cut appear twice."""
    from docetl_spark.functions import training

    docs = _t(spark, sf_dir, "documents")
    return training.pack_sequences(
        docs,
        budget=512,
        text_col="text",
        id_cols=["doc_id"],
        order_cols=["doc_id"],
        shard_expr=F.col("doc_id") % 8,
    )


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan (functions/training.py
    ngram_overlap): distinct 13-gram overlap of every document against a
    benchmark stand-in (docs with doc_id % 10 == 0). Benchmark members
    score overlap_ratio 1.0; true negatives 0."""
    from docetl_spark.functions import training

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0).select("text")
    out = training.ngram_overlap(docs, bench, n=13)
    return out.select("doc_id", "n_ngrams", "n_overlap", "overlap_ratio")


def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing sample (functions/training.py sample_temperature):
    T=2 temperature reweighting over lang groups at ~30% overall —
    upsamples small languages, deterministic md5 Bernoulli draw."""
    from docetl_spark.functions import training

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return training.sample_temperature(
        docs, "lang", temperature=2.0, target_fraction=0.3, id_cols=["doc_id"]
    )


def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k (similarity.py lsh_topk) with
    axis-aligned planes — the deterministic variant whose sign-bit
    bucket arithmetic DuckDB replays exactly, giving the LSH scale path
    a hash-checked oracle (random-plane variant covered in tests)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.lsh_topk(
        emb, queries_df, 10, dim=64, planes=similarity.axis_planes(64, 8)
    )


def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC similarity search (similarity.py pq_encode/pq_topk) with an
    INJECTED grid codebook: entry c of every subspace is the constant
    vector (-1.5 + 0.2c, 16 levels), so encoding = argmin over grid
    levels of the exact subvector distance and the asymmetric-distance
    scan is plain arithmetic a SQL oracle replays term-for-term. The
    k-means-fit codebook path (not SQL-expressible) is covered by
    test_similarity_blocking. Scan reads only the m-byte codes."""
    import numpy as np

    emb = _t(spark, sf_dir, "embeddings")
    m, k_entries, dsub = 8, 16, 8
    books = np.stack([
        np.stack([np.full(dsub, -1.5 + 0.2 * c) for c in range(k_entries)])
        for _ in range(m)
    ])
    indexed = similarity.pq_encode(emb, books)
    qv = [((i * 37) % 13 - 6) / 6.0 for i in range(64)]
    return similarity.pq_topk(indexed, books, qv, 10)


def semdedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (similarity.semdedup, Abbas et al. 2023):
    cluster the embedding space, near-dup only WITHIN clusters (equi-join
    on the cluster id, never all-pairs), drop rows dominated by a
    smaller-id same-cluster row at rounded cosine >= 0.45. INJECTED axis
    centroids (e_0..e_7) make assignment argmax-of-component — exactly
    SQL's ROW_NUMBER over the first 8 components — so the whole run is
    oracle-checkable; the k-means-fit path is covered by
    test_similarity_blocking."""
    import numpy as np

    emb = _t(spark, sf_dir, "embeddings")
    cents = np.eye(8, 64)
    kept = similarity.semdedup(
        emb, "vec_id", centroids=cents, threshold=0.45, round_to=4
    )
    return kept.select("vec_id", "cluster_id")


def rag_retrieve_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed join-based RAG retrieval (retrievers.retrieve_context_join):
    both sides embed executor-side, candidates from an LSH band equi-join
    with NO broadcast and NO driver index, per-row top-k rank window,
    pure-JVM context assembly, 128-bit-key join-back. The corpus is the
    distinct lang strings and each row queries with its own lang text, so
    the top-1 doc is the identical-text corpus entry (cosine 1.0) for ANY
    embedding function — making the full distributed plumbing
    hash-checkable without replaying the embedder in SQL."""
    from docetl_spark.retrievers import retrieve_context_join

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    corpus = docs.select(F.col("lang").alias("ctext")).distinct()
    out = retrieve_context_join(
        docs, corpus, FakeBackend(),
        text_keys=["ctext"], query_keys=["lang"], k=1,
    )
    return out.select("doc_id", "lang", "_retrieved_context")


def rag_retrieve_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed HYBRID retrieval (retrievers.retrieve_context_join
    method='hybrid' — reference retrievers/lancedb.py hybrid search,
    RRF reranker): the vector top-1 (exact-text query ⇒ cosine 1.0 for
    any embedder, the rag_retrieve_context trick) fuses with the
    distributed BM25 top-3 over a corpus of single-lang and lang-pair
    strings. The single wins both lists (2/61); the pairs carry only
    their BM25 reciprocal ranks — so the fused top-2 is fully
    SQL-replayable without replaying the embedder."""
    from docetl_spark.retrievers import retrieve_context_join

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    langs = ["en", "de", "zh", "fr", "es"]
    pairs = ["en de", "de zh", "zh fr", "fr es", "es en"]
    # Arrow-table literal frame (JVM LocalRelation): the list-of-tuples
    # createDataFrame takes the pickled-RDD path and pays a
    # Python-worker round trip on EVERY action that reads it (r11
    # measurement: 6-8 s per tiny-table write on local[32])
    import pyarrow as pa

    corpus = spark.createDataFrame(
        pa.Table.from_arrays([pa.array(langs + pairs, type=pa.string())],
                             names=["ctext"]),
        schema="ctext string")
    out = retrieve_context_join(
        docs, corpus, FakeBackend(),
        text_keys=["ctext"], query_keys=["lang"], k=2,
        method="hybrid", hybrid_vector_method="brute",
        hybrid_k_vector=1, hybrid_k_fts=3,
    )
    return out.select("doc_id", "lang", "_retrieved_context")


def pii_redact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (functions/text.py pii_redact/pii_counts): plant a
    synthetic email/IP/phone per doc (the corpus text itself is clean),
    then redact with typed placeholders and count matches — pure JVM
    regexp chain, shared Java/RE2 syntax so the oracle replays it."""
    docs = _t(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact u"), F.col("doc_id").cast("string"), F.lit("@mail.example.com"),
            F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".7"),
        ),
    )
    # email+ip only: the looser phone pattern's match spans can differ
    # between Java regex (leftmost-first) and RE2 (leftmost-longest);
    # phone redaction is covered by unit tests instead
    counts = text.pii_counts(F.col("text"), kinds=("email", "ip"))
    redacted = text.pii_redact(F.col("text"), kinds=("email", "ip"))
    return planted.select(
        "doc_id",
        F.substring(redacted, -40, 40).alias("redacted_tail"),
        counts["email"].alias("n_email"),
        counts["ip"].alias("n_ip"),
    )


def repetition_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals (functions/text.py repetition_stats): plant a
    duplicated line + a repeated bigram tail so both Gopher-style
    signals are exercised, then flag boilerplate-heavy docs."""
    docs = _t(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit("\nbuy now\nbuy now\nbuy now")),
        ).otherwise(F.col("text")),
    )
    rep = text.repetition_stats(F.col("text"), ngram=2)
    return planted.select(
        "doc_id",
        rep["dup_line_frac"].alias("dup_line_frac"),
        rep["top_ngram_share"].alias("top_ngram_share"),
        (rep["dup_line_frac"] > 0.3).alias("boilerplate_flag"),
    )


def stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-side decontamination (functions/training.py decontaminate):
    arriving documents are dropped if they share ANY 13-gram with the
    benchmark (docs with doc_id % 10 == 0). The benchmark key set is
    collected once (bounded) and broadcast, so the stream filter is
    row-local and STATELESS — no state store, no join; identical
    semantics on batch and stream, which is what the oracle checks."""

    from docetl_spark.functions import training
    from docetl_spark.streaming import events as stream_ops

    bench = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % 10 == 0)
        .select("text")
    )
    stream = stream_ops.read_parquet_stream(spark, f"{sf_dir}/documents.parquet")
    # r12 measured-and-REJECTED: repartitioning the stream before the
    # gram filter (to parallelize the Python kernel beyond the scan's
    # split count) LOST at the sf1 slice (~4.5 -> ~8.8 s floors) — the
    # per-batch round-robin shuffle moves every text byte, and the
    # kernel (bloom prefilter + vectorized searchsorted) is too light to
    # pay for it, the same verdict as decontaminate()'s batch-path A/B.
    # The old 9.04x sf1 ratio was the FIXTURE's unsplittable single-row-
    # group layout, fixed in make_sf1.py, not a plan defect.
    clean = training.decontaminate(stream, bench, n=13).select("doc_id")
    rows = stream_ops.run_available_now(
        clean, checkpoint=stream_ops.scratch_checkpoint_dir("ckpt_decon_"),
        shuffle_partitions=stream_ops.adaptive_state_partitions(spark, f"{sf_dir}/documents.parquet"),
    )
    return stream_ops.drained_df(spark, rows, "doc_id long")


_MIX_WEIGHTS = {"en": 0.4, "de": 0.2, "es": 0.2, "fr": 0.1, "zh": 0.1}


def corpus_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-weight mixture planning (training.mixture_plan): per-lang
    sampling rates hitting a 40/20/20/10/10 char-weighted mix without
    upsampling — the scarcest source binds the achieved corpus size."""
    from docetl_spark.functions import training

    docs = _t(spark, sf_dir, "documents")
    return training.mixture_plan(docs, "lang", _MIX_WEIGHTS, weight_col="n_chars")


def corpus_mixture_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture materialization (training.apply_mixture): deterministic
    md5-draw Bernoulli at the planned per-lang rate; the plan table
    broadcasts, the corpus never shuffles."""
    from docetl_spark.functions import training

    docs = _t(spark, sf_dir, "documents")
    plan = training.mixture_plan(docs, "lang", _MIX_WEIGHTS, weight_col="n_chars")
    return training.apply_mixture(docs, plan, "lang", id_cols=["doc_id"]).select(
        "doc_id", "lang"
    )


def unimax_plan_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax epoch-capped uniform budget allocation (Chung et al. 2023;
    training.unimax_plan): 200k chars of budget spread uniformly over
    languages, no language repeated past 1.5 epochs — small langs
    saturate at the cap, the freed budget water-fills the rest. Closed
    form via one window pass over the source-cardinality plan table (no
    driver loop)."""
    from docetl_spark.functions import training

    docs = _t(spark, sf_dir, "documents")
    return training.unimax_plan(
        docs, "lang", budget=200_000.0, max_epochs=1.5, weight_col="n_chars"
    )


def unimax_apply_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax materialization (training.apply_unimax): each doc emits
    floor(epochs) copies plus a deterministic md5-draw fractional copy —
    the upsampling counterpart of apply_mixture's keep/drop. Plan
    broadcasts; the corpus never shuffles."""
    from docetl_spark.functions import training

    docs = _t(spark, sf_dir, "documents")
    plan = training.unimax_plan(
        docs, "lang", budget=200_000.0, max_epochs=1.5, weight_col="n_chars"
    )
    return training.apply_unimax(docs, plan, "lang", id_cols=["doc_id"]).select(
        "doc_id", "lang", "copy"
    )


def stream_semantic_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming semantic map (streaming/events.py semantic_map_stream):
    documents arrive as a parquet stream, each micro-batch runs the
    SAME stateless mapInPandas model stage as batch semantic_map — the
    oracle is therefore identical to sem_map_sentiment's."""

    from docetl_spark.streaming import events as stream_ops

    be = FakeBackend(
        rules={
            "sentiment": lambda row: (
                "positive" if "fast" in row["text"] else ("negative" if "slow" in row["text"] else "neutral")
            )
        }
    )
    stream = stream_ops.read_parquet_stream(spark, f"{sf_dir}/documents.parquet")
    enriched = stream_ops.semantic_map_stream(
        stream, "Classify the sentiment of: {{ input.text }}", {"sentiment": "str"}, be
    ).select("doc_id", "sentiment")
    rows = stream_ops.run_available_now(
        enriched, checkpoint=stream_ops.scratch_checkpoint_dir("ckpt_semmap_"),
        shuffle_partitions=stream_ops.adaptive_state_partitions(spark, f"{sf_dir}/documents.parquet"),
    )
    return stream_ops.drained_df(spark, rows, "doc_id long, sentiment string")


def passage_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style duplicate-passage removal (functions/passages.py):
    documents chunked into 20-token windows; every distinct chunk keeps
    its globally-first occurrence (by doc_id, pos) and docs are rebuilt
    from surviving chunks. Keeper election is a partial-agg
    min(struct(doc_id,pos)) — skew-safe, no window over the chunk key."""
    from docetl_spark.functions import passages

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return passages.passage_dedup(docs, "text", id_col="doc_id", chunk_tokens=20)


def gram_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style sampled k-gram fingerprint matching: md5 of every
    8-token gram, deterministic 1/4 sample (hex prefix 0-3), pairs of
    docs sharing >= 2 sampled fingerprints; fingerprints present in
    > 50 docs are suppressed before the self-join (boilerplate cap)."""
    from docetl_spark.functions import passages

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return passages.gram_fingerprint_pairs(
        docs, "text", id_col="doc_id", k=8,
        sample_prefixes=("0", "1", "2", "3"), min_common=2, max_doc_freq=50,
    )


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-incremental exact dedup: a new batch (the src0 slice
    plus re-crawled uppercased copies of src1 docs at offset ids) is
    anti-joined against the fingerprint store of the rest of the corpus.
    The uppercased re-crawls normalize to store fingerprints and are
    dropped; genuinely-new src0 docs survive (minus in-batch dups)."""
    from docetl_spark.functions import passages

    docs = _t(spark, sf_dir, "documents")
    recrawl = (
        docs.filter(F.col("source") == "src1")
        .select((F.col("doc_id") + 100000).alias("doc_id"), F.upper(F.col("text")).alias("text"))
    )
    new = docs.filter(F.col("source") == "src0").select("doc_id", "text").unionByName(recrawl)
    store = docs.filter(F.col("source") != "src0").select("text")
    return passages.incremental_dedup(new, store, "text", id_col="doc_id")


def q4_priority_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped EXISTS: orders with at least one high-quantity
    lineitem, counted by priority. Compiles to a LeftSemi hash join —
    the lineitem side never materializes matched rows (the reference has
    no semi-join surface; Catalyst gives it free)."""
    orders = _sf(spark, sf_dir, "orders")
    li = _sf(spark, sf_dir, "lineitem").where("l_quantity > 45")
    return (
        orders.join(li, on=[F.expr("o_orderkey = l_orderkey")], how="left_semi")
        .group_agg(["o_orderpriority"], order_count=F.count(F.lit(1)))
        .df
    )


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped NOT EXISTS: positive-balance customers with no
    big-ticket order, counted per nation. LeftAnti join + broadcast
    nation dim."""
    cust = _sf(spark, sf_dir, "customer").where("c_acctbal > 0")
    orders = _sf(spark, sf_dir, "orders").where("o_totalprice > 400000")
    nation = _t(spark, sf_dir, "nation")
    return (
        cust.join(orders, on=[F.expr("c_custkey = o_custkey")], how="left_anti")
        .join(SemanticFrame.from_df(nation), on=[F.expr("c_nationkey = n_nationkey")], broadcast=True)
        .group_agg(["n_name"], num_customers=F.count(F.lit(1)), total_bal=F.sum(_dec("c_acctbal")).cast("double"))
        .df
    )


def set_ops_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-op verbs (beyond the reference, which has no union/intersect/
    except surface): nations with a rich customer INTERSECT nations with
    a rich supplier, EXCEPT nations in region 0."""
    cust = _sf(spark, sf_dir, "customer").where("c_acctbal > 7500").select("c_nationkey").df.withColumnRenamed("c_nationkey", "nationkey")
    supp = _sf(spark, sf_dir, "supplier").where("s_acctbal > 5000").select("s_nationkey").df.withColumnRenamed("s_nationkey", "nationkey")
    r0 = (
        _t(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 0)
        .select(F.col("n_nationkey").alias("nationkey"))
    )
    return (
        SemanticFrame.from_df(cust)
        .intersect(supp)
        .except_rows(r0)
        .df
    )


def fuzzy_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end fuzzy dedup, the canonical training-corpus pipeline
    as ONE call: MinHash-LSH candidates -> exact 3-shingle Jaccard >=
    0.8 edges -> connected components -> keep the LONGEST doc per
    cluster (ties: min doc_id), with cluster stats. Oracle replays the
    edge set exactly and resolves components with a recursive CTE."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ntok = F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != "")).cast("long")
    docs = docs.withColumn("n_tokens", ntok)
    out = dedup.minhash_dedup(
        docs, "doc_id", "text",
        keep_order=[F.col("n_tokens").desc(), F.col("doc_id")],
        with_stats=True,
    )
    return out.select("doc_id", "component", F.col("cluster_size").cast("long").alias("cluster_size"), "n_tokens")


def dsir_select_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023): hashed-unigram
    log-likelihood-ratio weights of every doc against a target corpus
    (source = src0 docs), Gumbel-top-100 deterministic selection."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    target = docs.filter(F.col("source") == "src0")
    return training.dsir_select(
        docs.select("doc_id", "text"), target, "text",
        id_col="doc_id", k=100, buckets=256,
    )


def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary diagnostics: top-50 terms by total frequency
    with document frequency. Two-level map-side-combinable aggregate +
    TakeOrderedAndProject top-k (never a global vocabulary sort)."""
    docs = _t(spark, sf_dir, "documents")
    return text.term_stats(docs, "text", id_col="doc_id", top_n=50)


def corpus_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-shard assignment (md5 of doc_id, 16 shards)
    + per-shard manifest: docs, tokens, id range — the reproducible
    global-shuffle layout a trainer plans epochs over."""
    docs = _t(spark, sf_dir, "documents")
    return training.shard_manifest(docs, id_col="doc_id", text_col="text", num_shards=16)


def lm_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy LM filter signal (CCNet/Gopher-style): mean
    negative log-prob of each doc's hashed bigrams under the corpus's
    own add-1 bigram|unigram model."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = training.lm_score(docs, text_col="text", id_col="doc_id")
    return out.select("doc_id", F.round("lm_nll", 4).alias("lm_nll"))


def corpus_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (0.9/0.05/0.05) by md5
    draw on doc_id — same row lands in the same split on any engine or
    partitioning."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return training.assign_splits(docs, id_cols=["doc_id"])


def corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health report: docs, tokens, distinct langs,
    char range, share of short docs — one map-side-combinable pass."""
    docs = _t(spark, sf_dir, "documents")
    ntok = F.size(F.filter(F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda x: x != ""))
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(ntok.cast("long")).alias("n_tokens"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.round(F.avg((ntok < 20).cast("double")), 4).alias("short_doc_share"),
        )
    )


def events_asof_join(spark: SparkSession, sf_dir: str, *, hot_key_bucket: int | None = None) -> DataFrame:
    """As-of join (union+window formulation — NO join operator, one
    exchange; test_asof_join_plan_has_no_join asserts it): every click
    event annotated with the user's most recent error event within 2h."""
    from docetl_spark.functions import timeseries as tsf

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    errors = ev.filter(F.col("event_type") == "error").select("user_id", "ts", "value", "event_id")
    out = tsf.asof_join(
        clicks, errors, on=["user_id"], left_ts="ts", right_ts="ts",
        right_cols=["value"], tolerance=7200 * 10**9, right_tiebreak="event_id",
        hot_key_bucket=hot_key_bucket,
    )
    return out.select(
        "event_id", "user_id",
        _epoch_s("ts").alias("click_epoch"),
        _epoch_s("ts_r").alias("err_epoch"),
        F.col("value_r").alias("err_value"),
    )


def pack_documents_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-split (next-fit) document packing (training.pack_documents):
    whole documents laid into 256-token bins, 8 deterministic shards
    (doc_id % 8), doc_id order; a doc that would overflow the open bin
    starts the next one; docs over budget get their own flagged bin.
    Oracle = a DuckDB recursive CTE replaying the next-fit recurrence."""
    from docetl_spark.functions import training

    docs = _t(spark, sf_dir, "documents")
    return training.pack_documents(
        docs,
        budget=256,
        text_col="text",
        id_cols=["doc_id"],
        shard_expr=F.col("doc_id") % 8,
    ).select("doc_id", "shard", "bin_id", "bin_off", "n_tokens", "overflow")


def events_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (the canonical Structured
    Streaming join): a click stream inner-joins an error stream on
    user_id where the error happened in the 30 minutes before the click.
    Both sides watermark so buffered state evicts once no future match
    is possible; append-mode drain. Oracle = the identical batch range
    join — stream/batch parity is the check."""

    from docetl_spark.streaming import events as stream_ops

    # r12: ONE streaming source, two filtered branches (a stream-stream
    # self-join) — the former two read_events_stream calls each paid a
    # batch schema read at plan time and doubled the source's file
    # listing/offset tracking per micro-batch. Same rows either way.
    ev = stream_ops.read_events_stream(spark, f"{sf_dir}/events.parquet")
    clicks = ev.filter(
        F.col("event_type") == "click"
    ).select("user_id", "event_id", "ts", "event_time")
    errors = ev.filter(
        F.col("event_type") == "error"
    ).select("user_id", "event_id", "ts", "event_time")
    joined = stream_ops.stream_interval_join(
        clicks, errors, on="user_id", lower_seconds=1800, upper_seconds=0,
        exact_ns_col="ts",
    ).select(
        F.col("l_user_id").alias("user_id"),
        F.col("l_event_id").alias("click_id"),
        F.col("r_event_id").alias("err_id"),
        _epoch_s("l_ts").alias("click_epoch"),
        _epoch_s("r_ts").alias("err_epoch"),
    )
    rows = stream_ops.run_available_now(
        joined, checkpoint=stream_ops.scratch_checkpoint_dir("ckpt_ivj_"), output_mode="append",
        shuffle_partitions=stream_ops.adaptive_state_partitions(spark, f"{sf_dir}/events.parquet"),
    )
    schema = "user_id long, click_id long, err_id long, click_epoch long, err_epoch long"
    return stream_ops.drained_df(spark, rows, schema)


def events_asof_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-key skew escape hatch: same as-of semantics, windows
    partitioned by (user, 1h time bucket) with per-bucket carry-in rows —
    max task = one user-hour, not one user's whole timeline
    (timeseries.asof_join hot_key_bucket). Oracle = the default plan's
    SQL: the two plans are result-identical by contract."""
    return events_asof_join(spark, sf_dir, hot_key_bucket=3600 * 10**9)


def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned range join (interval containment as an equi-join on
    (user, time-bin); no theta join in the plan): views inside each
    user's first-4-hours window."""
    from docetl_spark.functions import timeseries as tsf

    ev = _t(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts", "event_id")
    windows = (
        ev.groupBy("user_id")
        .agg(F.min(_epoch_s("ts")).alias("w_start"))
        .withColumn("w_end", F.col("w_start") + 4 * 3600)
    )
    pts = views.withColumn("e", _epoch_s("ts"))
    joined = tsf.range_join(
        pts, windows, point_ts="e", start_ts="w_start", end_ts="w_end",
        on=["user_id"], bin_width=3600,
    )
    return joined.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_views"),
        F.min("event_id").alias("first_view_id"),
    )


def events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup in ONE pass (ROLLUP
    grouping sets: minute partials feed hour feed day): event counts and
    exact-integer value cents per grain."""
    from docetl_spark.functions import timeseries as tsf

    ev = _t(spark, sf_dir, "events").withColumn("e", _epoch_s("ts"))
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    out = tsf.time_rollup(
        ev.withColumn("_cents", cents), "e",
        {"n": F.count(F.lit(1)), "value_cents": F.sum("_cents")},
    )
    return out.select("day", "hour", "minute", "n", "value_cents", "grain")


def q13_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped: distribution of customers by order count,
    including zero-order customers — LEFT OUTER join + two-level
    aggregate. Exercises the outer-join + re-aggregation plan shape
    (the reference has no outer-join surface; Catalyst gives it free)."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


def q19_disjunct_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped: revenue over an OR-of-ANDs predicate across the
    part-lineitem join. Catalyst extracts the common conjuncts
    (p_partkey=l_partkey) into the join key and pushes the per-branch
    filters below it — the pushdown shape the 100 TB scan depends on."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount", "l_returnflag"
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_size", "p_brand")
    j = li.join(part, li["l_partkey"] == part["p_partkey"])
    disj = (
        ((F.col("p_brand") == "Brand#1") & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 11) & (F.col("p_size") <= 5))
        | ((F.col("p_brand") == "Brand#2") & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 20) & (F.col("p_size") <= 10))
        | ((F.col("p_brand") == "Brand#3") & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 30) & (F.col("p_size") <= 15))
    )
    rev = (_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount")))
    return j.filter(disj & (F.col("l_returnflag").isin("N", "R"))).agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count("*").alias("n_items"),
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped: revenue from line items whose quantity is under
    20% of the per-part average — the correlated-subquery de-correlated
    into a per-part aggregate joined back (the plan a 100 TB scan
    needs: one map-combinable agg at part cardinality, never a
    per-row subquery). The threshold compare is done in EXACT decimal
    cross-multiplied form (5*qty*cnt < sum_qty) so no double-rounding
    boundary can flip a row between engines."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand").filter(
        F.col("p_brand") == "Brand#1"
    )
    # restrict BEFORE the per-part aggregate: the brand filter prunes
    # ~96% of lineitem off the agg via the broadcast join
    jli = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    per_part = jli.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.sum(_dec("l_quantity")).alias("_sq"), F.count(F.lit(1)).alias("_cn")
    )
    j = jli.join(per_part, F.col("l_partkey") == F.col("_pk"))
    small = (_dec("l_quantity") * F.lit(5) * F.col("_cn")) < F.col("_sq")
    return j.filter(small).agg(
        (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped: orders whose total quantity exceeds 250, with
    customer attribution — groupBy(orderkey) partial agg, HAVING on the
    exact decimal sum, then broadcast-joined attribution and a
    TakeOrderedAndProject top-100 (never a global sort)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("_tq"))
        .filter(F.col("_tq") > F.lit(250))
    )
    return (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice",
            F.col("_tq").cast("double").alias("total_qty"),
        )
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
        .limit(100)
    )


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped: cross-nation trade volume — revenue between
    every (supplier nation, customer nation) pair where the nations
    differ. Two broadcast dims (supplier, nation x2) around the
    lineitem->orders->customer join chain; exact decimal revenue."""
    from docetl_spark.session import widen_scan

    # r12 (guide §2.2): the single-row-group local scan is one task, so
    # the whole broadcast-probe chain ran serially (16.7 s at sf1);
    # keyed widening runs the probes at session width. No-op at scale
    # (a many-split scan skips the branch).
    li = widen_scan(
        _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
        ),
        "l_orderkey",
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    j = (
        li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .join(F.broadcast(nation).alias("n1"), F.col("s_nationkey") == F.col("n1.n_nationkey"))
        .join(F.broadcast(nation).alias("n2"), F.col("c_nationkey") == F.col("n2.n_nationkey"))
    )
    return (
        j.groupBy(
            F.col("n1.n_name").alias("supp_nation"), F.col("n2.n_name").alias("cust_nation")
        )
        .agg(
            F.sum(rev).cast("double").alias("volume"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: top-20 customers by revenue lost to returned
    items (l_returnflag = 'R') with nation attribution — filter pushed
    to the lineitem scan, broadcast dims, TakeOrderedAndProject."""
    from docetl_spark.session import widen_scan

    # r12 (guide §2.2): same serial-probe fix as q7 — see the note there
    li = widen_scan(
        _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount", "l_returnflag"
        ).filter(F.col("l_returnflag") == "R"),
        "l_orderkey",
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).alias("_rev"), F.count(F.lit(1)).alias("n_items"))
        .select(
            "c_custkey", "c_name", F.col("n_name").alias("nation"),
            F.col("_rev").cast("double").alias("revenue"), "n_items",
        )
        .orderBy(F.col("_rev").desc(), "c_custkey")
        .limit(20)
    )


def q22_idle_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped: customers whose balance beats their NATION's
    positive-balance average yet who placed under 8 orders. The scalar
    subquery decorrelates to a per-nation aggregate joined broadcast;
    the threshold compares in exact cross-multiplied decimal form
    (bal * n_pos > sum_pos) so no double-avg boundary flips rows."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    nav = (
        cust.filter(F.col("c_acctbal") > 0)
        .groupBy(F.col("c_nationkey").alias("_nk"))
        .agg(F.sum(_dec("c_acctbal")).alias("_sum"), F.count(F.lit(1)).alias("_n"))
    )
    cnt = orders.groupBy(F.col("o_custkey").alias("_ck")).agg(
        F.count(F.lit(1)).alias("_orders")
    )
    return (
        cust.join(F.broadcast(nav), F.col("c_nationkey") == F.col("_nk"))
        .join(cnt, F.col("c_custkey") == F.col("_ck"), "left")
        .withColumn("n_orders", F.coalesce(F.col("_orders"), F.lit(0)).cast("long"))
        .filter((_dec("c_acctbal") * F.col("_n") > F.col("_sum")) & (F.col("n_orders") < 8))
        .select("c_custkey", F.col("c_nationkey").cast("long").alias("nationkey"),
                "c_acctbal", "n_orders")
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped: per-part minimum-cost supplier via decorrelated
    arg-min. The dataset has no partsupp table, so 'cost' adapts to
    s_acctbal over the suppliers that actually shipped the part (distinct
    (l_partkey, l_suppkey) from lineitem); tie-break on s_suppkey keeps
    the arg-min total. One shuffle on p_partkey; part/supplier/nation
    dims broadcast. Reference parity: docetl has no relational core —
    this covers the correlated-min shape its pipelines lower to."""
    part = (
        _t(spark, sf_dir, "part")
        .select("p_partkey", "p_name", "p_size")
        .filter(F.col("p_size").between(30, 40))
    )
    sup = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal", "s_nationkey"
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    ps = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    j = (
        ps.join(F.broadcast(part), ps["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(sup), ps["l_suppkey"] == sup["s_suppkey"])
    )
    # NULL balances must lose the arg-min: Spark struct ordering puts
    # NULL fields FIRST, but the oracle's ROW_NUMBER ORDER BY s_acctbal
    # is NULLS LAST — a leading null-coalesced sort field (+inf) aligns
    # them (latent with this testdata, which has no null balances).
    best = j.groupBy("p_partkey", "p_name").agg(
        F.min(
            F.struct(
                F.coalesce(F.col("s_acctbal"), F.lit(float("inf"))).alias("_ord"),
                "s_suppkey", "s_acctbal", "s_name", "s_nationkey",
            )
        ).alias("_b")
    )
    return (
        best.join(F.broadcast(nation), F.col("_b.s_nationkey") == F.col("n_nationkey"))
        .select(
            "p_partkey", "p_name",
            F.col("_b.s_name").alias("s_name"),
            F.col("_b.s_acctbal").alias("s_acctbal"),
            "n_name",
        )
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped: one nation's market share of PROMO-part revenue
    sold to ASIA-region customers, per order year. The share is exact
    integer basis points — numerator*10000 DIV denominator in decimal,
    truncation-matched to the DuckDB HUGEINT oracle — so no double
    division can flip a hash bit. Dims broadcast; one shuffle (the
    groupBy on year)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    part = (
        _t(spark, sf_dir, "part")
        .select("p_partkey")
        .filter(F.col("p_type") == "PROMO")
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_nations = nation.join(
        F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"]
    ).select(F.col("n_nationkey").alias("_cnk"))
    supp_nation = nation.select(
        F.col("n_nationkey").alias("_snk"), F.col("n_name").alias("_sname")
    )
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    j = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(asia_nations), F.col("c_nationkey") == F.col("_cnk"))
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("_snk"))
    )
    agg = j.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.sum(F.when(F.col("_sname") == "NATION_3", rev).otherwise(F.lit(0))).alias("_n"),
        F.sum(rev).alias("_d"),
    )
    return agg.select(
        "o_year",
        F.expr(
            "CAST((CAST(_n AS DECIMAL(38,8)) * 10000) DIV CAST(_d AS DECIMAL(38,8)) AS BIGINT)"
        ).alias("share_bp"),
        F.col("_n").cast("double").alias("nation_volume"),
        F.col("_d").cast("double").alias("total_volume"),
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped: profit by supplier nation and order year over
    parts named like widgets. No partsupp, so supply cost adapts to
    0.5 * p_retailprice * l_quantity — kept in exact decimal (0.5 is a
    DECIMAL(2,1) literal, never a double) so the subtraction is
    bit-stable. Dims broadcast around the lineitem->orders chain."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    part = (
        _t(spark, sf_dir, "part")
        .select("p_partkey", "p_retailprice")
        .filter(F.col("p_name").like("%widget%"))
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    amount = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(18,4)") - _dec("l_discount")
    ) - _dec("p_retailprice") * _dec("l_quantity") * F.lit("0.5").cast("decimal(2,1)")
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(nation), F.col("s_nationkey") == nation["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(amount).cast("double").alias("profit"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q11_part_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped: parts whose revenue exceeds 1.5x the average
    part's share of global revenue — a HAVING against a global scalar
    subquery, decorrelated to a broadcast single-row aggregate. The
    threshold is scale-invariant (spec Q11 scales its fraction by SF)
    and compares in exact cross-multiplied decimal/int form
    (rev_part * n_parts * 2 > rev_total * 3), so no double fraction
    sits on the boundary."""
    from docetl_spark.session import widen_scan

    # r12 (guide §2.2): the single-row-group scan ran the decimal
    # partial aggregation on one core — and broadcast_scalar_join
    # references the per_part subtree twice, so twice over. Keyed
    # widening runs both at session width; no-op on many-split scans.
    li = widen_scan(
        _t(spark, sf_dir, "lineitem").select(
            "l_partkey", "l_extendedprice", "l_discount"),
        "l_partkey",
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    per_part = li.groupBy("l_partkey").agg(F.sum(rev).alias("_rev"))
    total = per_part.agg(
        F.sum("_rev").alias("_total"), F.count(F.lit(1)).alias("_np")
    )
    from docetl_spark.functions.stats import broadcast_scalar_join

    # The threshold multiplies at SCALE 0: decimal(38,8) * bigint would
    # exceed precision 38 and Spark rounds both sides HALF_UP at 1e-6
    # (allowPrecisionLoss), while the oracle compares exactly — so scale
    # the sums to integers first (exact: the revenue products have at
    # most 8 decimals) and cross-multiply those.
    rev8 = F.expr("CAST(_rev * 100000000 AS DECIMAL(38,0))")
    tot8 = F.expr("CAST(_total * 100000000 AS DECIMAL(38,0))")
    return (
        broadcast_scalar_join(per_part, total, df_col="l_partkey", scalar_col="_np")
        .filter(rev8 * F.col("_np") * F.lit(2) > tot8 * F.lit(3))
        .join(F.broadcast(part), F.col("l_partkey") == part["p_partkey"])
        .select("p_partkey", "p_name", F.col("_rev").cast("double").alias("revenue"))
    )


def q12_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped: conditional priority counting per line class.
    The dataset has no l_shipmode, so the grouping adapts to
    l_linestatus; the CASE split on o_orderpriority is the Q12 shape.
    Filter on ship year is pushed to the lineitem scan."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linestatus", "l_shipdate")
        .filter(F.year("l_shipdate") == 1998)
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped: PROMO revenue share for one ship month, as
    exact integer basis points (decimal DIV, truncation-matched to the
    HUGEINT oracle). Single row out; part dim broadcast; the month
    filter pushes to the lineitem scan."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_extendedprice", "l_discount", "l_shipdate")
        .filter(
            (F.col("l_shipdate") >= F.lit("1998-03-01"))
            & (F.col("l_shipdate") < F.lit("1998-04-01"))
        )
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    agg = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))).alias("_n"),
            F.sum(rev).alias("_d"),
        )
    )
    return agg.select(
        F.expr(
            "CAST((CAST(_n AS DECIMAL(38,8)) * 10000) DIV CAST(_d AS DECIMAL(38,8)) AS BIGINT)"
        ).alias("promo_share_bp"),
        F.col("_n").cast("double").alias("promo_revenue"),
        F.col("_d").cast("double").alias("total_revenue"),
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped: the supplier(s) with maximum quarterly revenue
    — the view + scalar-max shape, decorrelated to a broadcast one-row
    max joined back with EXACT decimal equality (doubles never compare
    on the boundary). Ties all surface, as in the spec."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-04-01"))
        )
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    per_supp = li.groupBy("l_suppkey").agg(F.sum(rev).alias("_rev"))
    mx = per_supp.agg(F.max("_rev").alias("_mx")).withColumn("_k", F.lit(1))
    return (
        per_supp.withColumn("_k", F.lit(1))
        .join(F.broadcast(mx), "_k")  # 1-row scalar as a hash join, not BNLJ
        .filter(F.col("_rev") == F.col("_mx"))
        .join(F.broadcast(sup), F.col("l_suppkey") == sup["s_suppkey"])
        .select("s_suppkey", "s_name", F.col("_rev").cast("double").alias("total_revenue"))
    )


def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped: distinct-supplier counts per part attribute
    class, excluding a brand and a supplier blacklist. No partsupp, so
    the part-supplier relation adapts to distinct (l_partkey, l_suppkey)
    from lineitem; the NOT IN blacklist (suppliers with negative
    balance) lowers to a broadcast anti-join, never a cross product."""
    part = (
        _t(spark, sf_dir, "part")
        .select("p_partkey", "p_brand", "p_type", "p_size")
        .filter((F.col("p_brand") != "Brand#13") & (F.col("p_size") <= 25))
    )
    bad_supp = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("_bad"))
    )
    ps = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    return (
        ps.join(F.broadcast(bad_supp), ps["l_suppkey"] == F.col("_bad"), "left_anti")
        .join(F.broadcast(part), ps["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q20_heavy_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped: the nested semi-join chain — suppliers who
    shipped more than 1.5x the per-supplier average quantity of some
    bolt part in 1997. availqty adapts to shipped quantity (no
    partsupp); the inner threshold compares cross-multiplied in exact
    decimal (2 * qty_sp * n_supp > 3 * total_qty). The qualifying
    supplier set semi-joins the supplier dim."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_quantity", "l_shipdate")
        .filter(F.year("l_shipdate") == 1997)
    )
    part = (
        _t(spark, sf_dir, "part")
        .select("p_partkey")
        .filter(F.col("p_name").like("%bolt%"))
    )
    sup = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal", "s_nationkey"
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sp = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(_dec("l_quantity")).alias("_q"))
    )
    per_part = sp.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.sum("_q").alias("_tot"), F.count(F.lit(1)).alias("_n")
    )
    heavy = (
        sp.join(F.broadcast(per_part), sp["l_partkey"] == F.col("_pk"))
        .filter(F.col("_q") * F.col("_n") * F.lit(2) > F.col("_tot") * F.lit(3))
        .select("l_suppkey")
        .distinct()
    )
    return (
        sup.join(heavy, sup["s_suppkey"] == heavy["l_suppkey"], "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == nation["n_nationkey"])
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )


def q21_sole_returners(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped: the EXISTS / NOT-EXISTS self-join pair on
    lineitem. No commitdate/receiptdate, so 'kept waiting' adapts to
    returns: suppliers with a returned line on a finished order where
    ANOTHER supplier was on the order (EXISTS -> left_semi) but no
    other supplier had a returned line (NOT EXISTS -> left_anti).
    Count per supplier, deterministic top-25."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_returnflag")
    orders = (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey")
        .filter(F.col("o_orderstatus") == "F")
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, li["l_orderkey"] == orders["o_orderkey"], "left_semi")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    l2 = li.select(
        F.col("l_orderkey").alias("_ok2"), F.col("l_suppkey").alias("_sk2")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("_ok3"), F.col("l_suppkey").alias("_sk3")
    )
    # merge hints: l2/l3 derive from the FACT table, so they scale with
    # it and must never broadcast — Spark's file-size estimate of the
    # 2-column pruned scan undershoots the threshold and picks a
    # broadcast build that measured 16x super-linear at a 10x blow-up
    # (and would OOM outright at cluster scale). SMJ on l_orderkey
    # shares one partitioning across both self-joins.
    waited = (
        l1.join(
            l2.hint("merge"),
            (l1["l_orderkey"] == F.col("_ok2")) & (l1["l_suppkey"] != F.col("_sk2")),
            "left_semi",
        )
        .join(
            l3.hint("merge"),
            (F.col("l_orderkey") == F.col("_ok3")) & (F.col("l_suppkey") != F.col("_sk3")),
            "left_anti",
        )
    )
    return (
        waited.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(sup), F.col("l_suppkey") == sup["s_suppkey"])
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_suppkey")
        .limit(25)
    )


_QM_WORDS = {"spark": 2.0, "join": 1.5, "merge": 1.0, "slow": -2.0}


def _qm_bucket(word: str, buckets: int = 1 << 15) -> int:
    import hashlib

    return int(hashlib.md5(f"qm#{word}".encode()).hexdigest()[:8], 16) % buckets


def quality_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style model-based quality scoring with an INJECTED
    weight vector (the fit path is gradient descent over join+agg
    passes — test-covered in test_quality_model.py; like ann_pq's
    injected codebook, fixed weights make scoring SQL-replayable).
    sigmoid(sum ln(1+tf_bucket) * w_bucket + bias) per doc."""
    from docetl_spark.functions import quality_model as qm

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    weights: dict[int, float] = {}
    for word, wt in _QM_WORDS.items():
        b = _qm_bucket(word)
        weights[b] = weights.get(b, 0.0) + wt
    out = qm.score_quality(docs, weights, text_col="text", id_col="doc_id", bias=-1.0)
    return out.select("doc_id", F.round("quality_prob", 4).alias("quality_prob"))


def bm25_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical top-k over the documents table for three fixed
    queries — the full-text complement to rag_retrieve_context's
    embedding path (see retrievers.bm25_topk for the plan analysis:
    postings pruned by a broadcast query-term semi-join BEFORE the tf
    shuffle, doc length computed pre-explode, decimal-summed scores)."""
    from docetl_spark import retrievers

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # Arrow-table literal frame — see rag_retrieve_hybrid's note on the
    # pickled-RDD createDataFrame per-action cost
    import pyarrow as pa

    queries = spark.createDataFrame(
        pa.Table.from_arrays(
            [pa.array(["q1", "q2", "q3"], type=pa.string()),
             pa.array(["spark join performance", "slow merge batch",
                       "window sort hash"], type=pa.string())],
            names=["query_id", "query"]),
        schema="query_id string, query string")
    return retrievers.bm25_topk(docs, queries, k=5)


def corpus_split_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota stratified train/val/test assignment per language —
    cumulative-floor integer quotas (450/25/25 out of a 500-doc
    stratum at 18/1/1, exactly), deterministic md5 ordering. The
    probabilistic sibling is corpus_split_docs (independent md5
    draws)."""
    from docetl_spark.functions import training

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return training.assign_splits_exact(
        docs, id_cols=["doc_id"], weights={"train": 18, "val": 1, "test": 1},
        strata=["lang"],
    )


def events_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew report over events.user_id — the planning input for the
    engine's hot_key_bucket escape hatches (asof_join, rolling_features,
    bucketed sessionize): top-20 heaviest users with exact basis-point
    shares and the distinct-key context. One groupBy + tiny broadcast
    total + TakeOrderedAndProject; nothing driver-side."""
    from docetl_spark.functions.stats import skew_profile

    ev = _t(spark, sf_dir, "events")
    return skew_profile(ev, ["user_id"], top=20)


def corpus_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language EXACT length quantiles via the scale-safe windowed
    rank-select (stats.exact_quantiles) — quantile_cont semantics
    without percentile()'s per-group value buffering. The DuckDB oracle
    IS quantile_cont, so this checks the interpolation formula
    bit-for-bit."""
    from docetl_spark.functions.stats import exact_quantiles

    docs = _t(spark, sf_dir, "documents")
    return exact_quantiles(docs, "n_chars", [0.5, 0.9, 0.99], by=["lang"])


def events_pivot_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot shape: per-user event counts spread across one column per
    event type (explicit value list, so no extra distinct-scan job),
    plus exact-decimal purchase value — both measures in ONE pivot
    aggregation, the same single-groupBy plan as the CASE WHEN
    oracle."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "value")
    types = ["click", "view", "purchase", "signup", "error"]
    # BOTH measures ride the one pivot aggregation (count + decimal sum
    # per type) — a separate purchase-only agg + join would scan and
    # shuffle the fact table twice for no reason
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)).alias("n"), F.sum(_dec("value")).alias("v"))
    )
    return wide.select(
        "user_id",
        *[F.coalesce(F.col(f"{t}_n"), F.lit(0)).cast("long").alias(f"n_{t}") for t in types],
        F.coalesce(F.col("purchase_v"), F.lit(0).cast("decimal(18,4)"))
        .cast("double")
        .alias("purchase_value"),
    )


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view -> click -> purchase funnel per user (timeseries.funnel):
    k chained running-min window columns over ONE (user, ts, event_id)
    sort — no self-joins, no per-step passes. Returns first-completion
    epoch-ns per step and steps reached."""
    from docetl_spark.functions.timeseries import funnel

    ev = _t(spark, sf_dir, "events")
    return funnel(
        ev, ["view", "click", "purchase"],
        user_col="user_id", ts_col="ts", type_col="event_type",
        tiebreak="event_id",
    )


def events_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-time funnel tracking via applyInPandasWithState
    (streaming/events.py funnel_stateful): per-user first-completion
    timestamps of view -> click -> purchase, O(k) state per user. The
    oracle is the BATCH funnel SQL — the online state machine must
    reproduce the chained-window plan exactly over an availableNow
    drain."""

    from docetl_spark.streaming import events as stream_ops

    ev = stream_ops.read_events_stream(spark, f"{sf_dir}/events.parquet")
    fun = stream_ops.funnel_stateful(
        ev.select("event_id", "user_id", "ts", "event_type"),
        ["view", "click", "purchase"],
    )
    rows = stream_ops.run_available_now(
        fun,
        checkpoint=stream_ops.scratch_checkpoint_dir("ckpt_funnel_"),
        dedupe_keys=["user_id"],
        shuffle_partitions=stream_ops.adaptive_state_partitions(spark, f"{sf_dir}/events.parquet"),
    )
    schema = ("user_id long, step1_ts long, step2_ts long, step3_ts long, "
              "reached int")
    return stream_ops.drained_df(spark, rows, schema)


def events_hopping_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window rollup (timeseries.hopping_rollup): 1-hour windows
    sliding every 15 minutes, so each event lands in exactly 4
    overlapping windows — the batch analogue of streaming
    window(size, slide), in exact integer ns math. One explode + one
    groupBy."""
    from docetl_spark.functions import timeseries as tsf

    ev = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    return tsf.hopping_rollup(
        ev.withColumn("_cents", cents),
        {"n_events": F.count(F.lit(1)), "value_cents": F.sum("_cents")},
        ts_col="ts", every_ns=900 * 10**9, size_ns=3600 * 10**9,
        group_cols=["event_type"],
    )


def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled per-user 6-hour rollup with LOCF (timeseries.gap_fill,
    TimescaleDB time_bucket_gapfill+locf parity): every user's bucket
    range becomes a dense grid; gap buckets get n_events=0 and carry the
    last observed value_cents forward. Raw events are touched once (the
    rollup shuffle); grid/join/LOCF all run on bucket-count-sized data."""
    from docetl_spark.functions import timeseries as tsf

    ev = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    out = tsf.gap_fill(
        ev.withColumn("_cents", cents), "ts",
        keys=["user_id"], bucket_width=21600 * 10**9,
        aggs={"n_events": F.count(F.lit(1)), "value_cents": F.sum("_cents")},
        locf_cols=["value_cents"],
    )
    return out.select(
        "user_id", "bucket_start",
        F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
        "value_cents", "value_cents_filled",
    )


def events_time_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trapezoidal time-weighted average value per user
    (timeseries.time_weighted_avg, TimescaleDB time_weight parity):
    irregular samples weighted by the interval they span, in exact
    decimal(38,0) segment sums so the result is partitioning-independent.
    ONE shuffle: the lead window and final agg share the user_id
    partitioning."""
    from docetl_spark.functions import timeseries as tsf

    ev = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    out = tsf.time_weighted_avg(
        ev.withColumn("_cents", cents), "ts", "_cents",
        keys=["user_id"], order_cols=["event_id"],
    )
    return out.select(
        "user_id", F.round("twa", 6).alias("twa_cents"), "n_samples", "duration"
    )


def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix (timeseries.cohort_retention):
    users cohorted by first-event week; cells count users active k weeks
    later with retention % against the cohort size. The raw table
    collapses to per-user rows before any join."""
    from docetl_spark.functions import timeseries as tsf

    ev = _t(spark, sf_dir, "events")
    return tsf.cohort_retention(ev, "ts", "user_id", period=604800 * 10**9)


def docs_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term co-occurrence / collocation mining over the top-50-df
    vocabulary (text.cooccurrence_stats): document pair counts and
    association lift (PMI's argument, log-free so the value is a
    deterministic exact-integer ratio). Pair blow-up is vocabulary-
    capped: per-doc distinct terms semi-join the broadcast vocab BEFORE
    the doc-id self-join."""
    from docetl_spark.functions import text as textf

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return textf.cooccurrence_stats(
        docs, "text", id_col="doc_id", vocab_size=50, top_pairs=100
    )


def events_snapshot_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog compaction (timeseries.snapshot_latest): the
    latest event per user by (ts, event_id) — one row_number window,
    one shuffle."""
    from docetl_spark.functions import timeseries as tsf

    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    return tsf.snapshot_latest(ev, keys=["user_id"], ts_col="ts", tiebreak="event_id")


def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (timeseries.interval_join): per-user
    6-hour activity spans x ±30-minute purchase windows, met through
    ONE (user, time-bin) equi-join with each overlapping pair
    attributed to the canonical bin of its overlap start — exactly-once
    pair emission with NO dropDuplicates and no theta join."""
    from docetl_spark.functions import timeseries as tsf

    ev = _t(spark, sf_dir, "events")
    w6 = 21600 * 10**9
    li = ev.groupBy(
        "user_id", F.expr(f"(ts - pmod(ts, {w6})) DIV {w6}").alias("bkt")
    ).agg(F.min("ts").alias("a_start"), (F.max("ts") + 1).alias("a_end"))
    half = 1800 * 10**9
    ri = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"),
        (F.col("ts") - half).alias("p_start"), (F.col("ts") + half).alias("p_end"),
    )
    return tsf.interval_join(
        li, ri, on=["user_id"], left_start="a_start", left_end="a_end",
        right_start="p_start", right_end="p_end", bin_width=3600 * 10**9,
    )


def events_stream_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Markov-transition twin (streaming/events.py
    transitions_stateful): O(1) (last_ts, last_state) state per user,
    append-mode pair emission bridging micro-batch boundaries; the
    drained pairs count to the BATCH transitions oracle exactly."""
    from docetl_spark.streaming import events as stream_ops

    ev = stream_ops.read_events_stream(spark, f"{sf_dir}/events.parquet")
    pairs = stream_ops.transitions_stateful(
        ev.select("user_id", "ts", "event_id", "event_type")
    )
    rows = stream_ops.run_available_now(
        pairs,
        checkpoint=stream_ops.scratch_checkpoint_dir("ckpt_trans_"),
        output_mode="append",
        shuffle_partitions=stream_ops.adaptive_state_partitions(spark, f"{sf_dir}/events.parquet"),
    )
    drained = stream_ops.drained_df(spark, rows, "from_state string, to_state string")
    return drained.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).alias("n")
    )


def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the event stream
    (timeseries.transitions): per-user lag() over one (user, ts) sort,
    then a map-side-combinable count at state-pair cardinality."""
    from docetl_spark.functions import timeseries as tsf

    ev = _t(spark, sf_dir, "events")
    return tsf.transitions(
        ev, keys=["user_id"], ts_col="ts", state_col="event_type",
        tiebreak="event_id",
    )


def docs_quantile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length deciles (stats.quantile_buckets, NTILE
    semantics with a doc_id tiebreak for a total order) — the
    stratifier quality-decile mixtures sample from."""
    from docetl_spark.functions.stats import quantile_buckets

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return quantile_buckets(docs, "n_chars", 10, by=["lang"], tiebreak=["doc_id"])


def orders_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted orders x customer equi-join (joins.salted_join):
    hot customer keys split across 8 reducers via a (key, salt)
    composite; the oracle is the PLAIN join — salting must be
    result-identical, only the shuffle distribution changes."""
    from docetl_spark.functions.joins import salted_join

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    return salted_join(orders, cust, ["o_custkey"], salt=8)


def docs_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Flesch reading-ease signals (text.readability):
    word/sentence/syllable counts (public vowel-group heuristic) and
    the Flesch score — pure JVM expression chain, one scan."""
    from docetl_spark.functions import text as textf

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    r = textf.readability(F.col("text"))
    return docs.select(
        "doc_id",
        r["n_words"].alias("n_words"),
        r["n_sentences"].alias("n_sentences"),
        r["n_syllables"].alias("n_syllables"),
        r["flesch"].alias("flesch"),
    )


def docs_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus bigrams with total + document frequency
    (text.ngram_stats): tokenize once into a materialized array, JVM
    transform over its index sequence, two-level partial aggregate —
    the LM-table building block above term_stats' unigrams."""
    from docetl_spark.functions import text as textf

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return textf.ngram_stats(docs, "text", id_col="doc_id", n=2, top_n=50)


def events_scd2_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog -> SCD2 validity intervals (timeseries.changelog_to_scd2):
    each user's event_type change points become versions with
    valid_from/valid_to/is_current; consecutive same-type events
    compress (null-safe lag comparison). Two windows over ONE
    (user, ts) sort, no self-join."""
    from docetl_spark.functions import timeseries as tsf

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type", "event_id")
    return tsf.changelog_to_scd2(
        ev, keys=["user_id"], ts_col="ts", attrs=["event_type"],
        tiebreak="event_id",
    )


def docs_winsorize_len(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language winsorized document length (stats.winsorize):
    n_chars clipped at the EXACT [p5, p95] quantile_cont bounds —
    the exact_quantiles machinery, so the clamp replays bit-for-bit
    against quantile_cont in the oracle."""
    from docetl_spark.functions.stats import winsorize

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return winsorize(docs, "n_chars", by=["lang"], lower=0.05, upper=0.95)


def events_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy-hitters twin: exactly-once per-(user, type)
    counts maintained by an update-mode streaming aggregation, drained
    availableNow, then finished through the IDENTICAL batch rank/tail
    plan via heavy_hitters(weight_col=...). Oracle = the batch
    heavy-hitters SQL — streaming/batch parity is the check."""
    from docetl_spark.functions.stats import heavy_hitters
    from docetl_spark.streaming import events as stream_ops

    ev = stream_ops.read_events_stream(spark, f"{sf_dir}/events.parquet")
    counts = ev.groupBy("user_id", "event_type").count()
    rows = stream_ops.run_available_now(
        counts,
        checkpoint=stream_ops.scratch_checkpoint_dir("ckpt_hh_"),
        dedupe_keys=["user_id", "event_type"],
        shuffle_partitions=stream_ops.adaptive_state_partitions(spark, f"{sf_dir}/events.parquet"),
    )
    drained = stream_ops.drained_df(
        spark, rows, "user_id long, event_type string, count long"
    )
    return heavy_hitters(drained, "event_type", by=["user_id"], top=3,
                         weight_col="count")


def events_ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user final EWMA of event value (timeseries.ewma, pandas
    ewm(adjust=False) last-row semantics): one JVM aggregate() fold
    over the time-ordered value array — bit-exact vs the DuckDB
    list_reduce oracle because both engines fold identical doubles in
    identical order (alpha=0.3; 1-alpha embeds as the same literal)."""
    from docetl_spark.functions import timeseries as tsf

    ev = _t(spark, sf_dir, "events")
    return tsf.ewma(ev, "ts", "value", keys=["user_id"], alpha=0.3,
                    tiebreak="event_id")


def events_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands activity streaks (timeseries.streaks): maximal
    runs of consecutive active 6-hour buckets per user. Raw rows
    touched once (the (user, bucket) partial-agg shuffle); the island
    window and agg run on bucket-count-sized data."""
    from docetl_spark.functions import timeseries as tsf

    ev = _t(spark, sf_dir, "events")
    return tsf.streaks(
        ev, "ts", keys=["user_id"], bucket_width=21600 * 10**9, min_buckets=2
    )


def events_attribution_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution (timeseries.attribute_conversions):
    every purchase credited to the latest click/view at-or-before it
    within 24 hours — a backward as-of join (union+window, ONE shuffle,
    no join operator), deterministic via event_id tiebreak."""
    from docetl_spark.functions import timeseries as tsf

    ev = _t(spark, sf_dir, "events")
    return tsf.attribute_conversions(
        ev, conversion_type="purchase", touch_types=["click", "view"],
        horizon=24 * 3600 * 10**9, tiebreak="event_id", carry_cols=["event_id"],
    )


def events_attribution_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: the EARLIEST click/view inside the
    24-hour lookback window before each purchase — a FORWARD as-of
    launched from conv_ts - horizon (same one-shuffle union+window
    plan, opposite scan direction)."""
    from docetl_spark.functions import timeseries as tsf

    ev = _t(spark, sf_dir, "events")
    return tsf.attribute_conversions(
        ev, conversion_type="purchase", touch_types=["click", "view"],
        horizon=24 * 3600 * 10**9, model="first_touch",
        tiebreak="event_id", carry_cols=["event_id"],
    )


def events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user top-3 event types + __other__ tail rollup
    (stats.heavy_hitters, the ClickHouse topK report shape): one
    map-side-combinable groupBy on raw data, then rank/tail/share on
    distinct-value-sized rows. Exact integer basis-point shares."""
    from docetl_spark.functions.stats import heavy_hitters

    ev = _t(spark, sf_dir, "events")
    return heavy_hitters(ev, "event_type", by=["user_id"], top=3)


def events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust z-score outlier flags in EXACT
    integer/decimal math (stats.robust_outliers): cents fixed-point,
    decimal moments, cross-multiplied |x-mean| > 3*stddev — no doubles
    anywhere near the threshold, replays bit-for-bit in the oracle."""
    from docetl_spark.functions.stats import robust_outliers

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = robust_outliers(ev, "value", by=["event_type"], z_threshold_centi=300)
    return out.select("event_id", "event_type", "is_outlier")


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured projection: typed extraction from the JSON
    ``props`` column (shape.json_extract_columns — pure
    get_json_object codegen, only the requested path is parsed) then a
    per-type rollup. Malformed/missing paths yield NULL, counted."""
    from docetl_spark.operators.shape import json_extract_columns

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "props")
    typed = json_extract_columns(ev, "props", {"k": "k:long"})
    return typed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
        F.max("k").alias("max_k"),
        F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)).cast("long").alias("n_null"),
    )


def events_melt_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long unpivot (shape.melt over Spark's native Expand-node
    unpivot — each row fans out in place, NO shuffle, NO re-scan per
    value column): the pivot-by-type counts back in long form."""
    from docetl_spark.operators.shape import melt

    wide = events_pivot_by_type(spark, sf_dir).drop("purchase_value")
    return melt(
        wide, ["user_id"],
        ["n_click", "n_view", "n_purchase", "n_signup", "n_error"],
        var_name="metric", value_name="n",
    )


def orders_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over orders (status x priority): all four
    aggregation levels share ONE partial aggregation pass (Spark Expand
    + single shuffle, not four scans). grouping_id disambiguates
    rolled-up NULLs from data NULLs; decimal-exact revenue."""
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
        F.grouping_id().cast("long").alias("gid"),
    )


def docs_tfdf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction (text.tfdf_keywords): top-3
    distinctive terms by the exact-integer tf-idf surrogate
    tf * ((n_docs * 1e6) DIV df) — integer DIV instead of ln() (the
    1-ulp libm-vs-JVM hazard), rank ties broken by term."""
    from docetl_spark.functions import text as textf

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return textf.tfdf_keywords(docs, "text", id_col="doc_id", top=3)


def docs_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard scores over sorted-neighborhood candidate
    pairs: the blocking stage reuses resolve's SN rank-bucket plan
    (never 1-partition), the verify stage is JVM set math on the pair
    table only, and the similarity surfaces as exact integer basis
    points (|∩| * 10000 DIV |∪|) so the hash oracle replays it."""
    from docetl_spark.functions.text import shingles
    from docetl_spark.operators.resolve import sorted_neighborhood_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = sorted_neighborhood_pairs(
        docs, "doc_id",
        key="lower(substring(coalesce(text, ''), 1, 12))",
        window=3,
    )
    # persisted: the shingle Arrow UDF is referenced by BOTH join sides —
    # uncached it ran the full corpus pass twice (r11, guide §4.2);
    # doc-grain arrays, evictable storage, released by the bench's
    # per-query cache clear. r12: widened first (guide §4.1) — a
    # single-row-group documents scan is ONE task, serializing the whole
    # corpus's shingling onto one core (the minhash_near_dup site at
    # line 314 already widened; this inline site had not — it was the
    # 7.7x sf1 ratio the r11 verdict flagged). Round-robin widening is
    # row-local and result-invariant; no-op on a many-split scan.
    from docetl_spark.session import widen_scan

    shingled = widen_scan(docs).select(
        "doc_id", shingles(F.col("text"), 3).alias("_sh")).persist()
    a = shingled.select(F.col("doc_id").alias("id_a"), F.col("_sh").alias("_sa"))
    b = shingled.select(F.col("doc_id").alias("id_b"), F.col("_sh").alias("_sb"))
    uni = F.size(F.array_union("_sa", "_sb")).cast("long")
    out = (
        pairs.join(a, "id_a").join(b, "id_b")
        .select(
            "id_a", "id_b",
            F.when(uni > 0, F.expr(
                "size(array_intersect(_sa, _sb)) * CAST(10000 AS BIGINT) "
                "DIV size(array_union(_sa, _sb))"
            )).otherwise(F.lit(0)).cast("long").alias("jaccard_bp"),
        )
    )
    out._docetl_cached_input = shingled  # release: .unpersist() when done
    return out


# ----------------------------------------------------------- driver hooks

def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact fixed-width histogram (stats.histogram): 0.25-wide value
    bins per event type, cents fixed-point with floor-toward-negative-
    infinity bin edges, exact integer basis-point shares. ONE map-side-
    combinable groupBy on (type, bin) — shuffle width is the occupied
    bin count, not the row count."""
    from docetl_spark.functions.stats import histogram

    ev = _t(spark, sf_dir, "events")
    return histogram(ev, "value", bin_width=0.25, by=["event_type"])


def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier flags (stats.mad_outliers), the
    heavy-tail-safe sibling of the z-score flags: both medians ride the
    exact_quantiles formulation that is bit-identical to quantile_cont,
    so the |x-med|*100 > 300*MAD cut replays exactly in the oracle."""
    from docetl_spark.functions.stats import mad_outliers

    ev = _t(spark, sf_dir, "events")
    return mad_outliers(ev, "value", by=["event_type"], k_centi=300).select(
        "event_id", "event_type", "is_outlier"
    )


def events_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user cumulative value + exact cumulative share
    (stats.running_totals): cents fixed-point running sum over the
    (ts, event_id) order — one shuffle on user_id, streaming running
    frame, integer basis points via bigint DIV."""
    from docetl_spark.functions.stats import running_totals

    ev = _t(spark, sf_dir, "events")
    return running_totals(
        ev, "value", keys=["user_id"], order_by=["ts", "event_id"]
    ).select("user_id", "event_id", "cum_value", "cum_share_bp")


def orders_data_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (joins.data_diff): two deterministic
    variants of orders (old drops orderkey%7==0; new drops %5==0 and
    doubles totalprice on %3==0) diffed on the key — added/removed/
    changed/unchanged with the changed-column list, from ONE full-outer
    equi-join. changed_cols surfaces comma-joined for hash stability."""
    from docetl_spark.functions.joins import data_diff

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = orders.filter(F.col("o_orderkey") % 7 != 0)
    new = orders.filter(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") * 2.0)
        .otherwise(F.col("o_totalprice")),
    )
    return data_diff(old, new, ["o_orderkey"]).select(
        "o_orderkey", "diff_status",
        F.array_join("changed_cols", ",").alias("changed_cols"),
    )


def nation_supplier_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation sorted supplier-name roster (shape.group_concat):
    distinct names sorted binary-UTF8, capped at 5, one map-side-
    combinable collect_set groupBy — shuffle-order independent."""
    from docetl_spark.operators.shape import group_concat

    sup = _t(spark, sf_dir, "supplier")
    return group_concat(sup, ["s_nationkey"], "s_name", limit=5)


def events_time_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day seasonality grid per event type
    (timeseries.time_profile): pure integer floor-division epoch math
    (no doubles near bucket edges, pre-epoch safe), ONE combinable
    groupBy with <=168 cells per type, plus an exact cents sum."""
    from docetl_spark.functions.timeseries import time_profile

    ev = _t(spark, sf_dir, "events")
    return time_profile(
        ev, "ts", by=["event_type"],
        aggs={"cents": F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        )},
    )


def events_ewma_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-chained EWMA (timeseries.ewma_bucketed): the per-key
    history bound of ewma() split into 6-hour-bucket folds plus a
    bucket-count-sized chain. The oracle replays the SAME two-stage
    fold (per-bucket list_reduce, then an affine chain over the bucket
    maps), so the floating-point regrouping hashes bit-exact — both
    engines execute the identical operation sequence."""
    from docetl_spark.functions import timeseries as tsf

    ev = _t(spark, sf_dir, "events")
    return tsf.ewma_bucketed(
        ev, "ts", "value", keys=["user_id"], alpha=0.3,
        bucket_width=21600 * 10**9, tiebreak="event_id",
    )


def events_active_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-mode DAU/WAU/MAU (timeseries.active_users_approx):
    mergeable HLL day sketches unioned per window — every post-day cost
    is DAY-count sized, the named escape hatch for active_users'
    x-window fan-out at 90/365-day windows. Estimates are
    engine-specific by nature: registered WITHOUT a SQL oracle
    (rows-only check); the error bound vs the exact operator is pinned
    in tests/test_sketch_modes.py."""
    from docetl_spark.functions.timeseries import active_users_approx

    ev = _t(spark, sf_dir, "events")
    return active_users_approx(ev, "ts", user_col="user_id", windows=(1, 7, 30))


def events_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based per-user debounce (timeseries.debounce): events
    within 2 hours of the user's previous RAW event collapse to the
    leading edge — one LAG window, integer epoch subtraction."""
    from docetl_spark.functions.timeseries import debounce

    ev = _t(spark, sf_dir, "events")
    return debounce(
        ev, keys=["user_id"], ts_col="ts",
        min_gap_ns=7200 * 10**9, tiebreak="event_id",
    ).select("event_id", "user_id", "ts", "event_type")


def events_throttle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic rate-limit sampling (timeseries.throttle): at
    most 3 earliest events per (user, 6-hour window) — replayable
    bounded-volume telemetry sampling; exact-floor bucketing."""
    from docetl_spark.functions.timeseries import throttle

    ev = _t(spark, sf_dir, "events")
    return throttle(
        ev, keys=["user_id"], ts_col="ts", window_ns=21600 * 10**9,
        max_per_window=3, tiebreak="event_id",
    ).select("event_id", "user_id", "ts", "event_type")


def docs_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-mode length quantiles (stats.approx_quantiles,
    percentile_approx): the bounded-state escape hatch for the exact
    order-statistic paths. Values are engine-specific sketch outputs by
    nature — registered WITHOUT a SQL oracle (rows-only check);
    rank-error bounds vs exact_quantiles are pinned in
    tests/test_sketch_modes.py."""
    from docetl_spark.functions.stats import approx_quantiles

    docs = _t(spark, sf_dir, "documents")
    d = docs.select("lang", F.length("text").cast("double").alias("len"))
    return approx_quantiles(d, "len", [0.5, 0.9], by=["lang"], accuracy=10_000)


def docs_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of the corpus table (dq.profile_columns): exact
    per-column null and distinct counts from ONE Expand-strategy
    aggregation over one scan — the schema-rot tripwire in front of
    every corpus refresh."""
    from docetl_spark.functions.dq import profile_columns

    docs = _t(spark, sf_dir, "documents")
    return profile_columns(docs, ["doc_id", "text", "lang", "source", "n_chars"])


def orders_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative invariant gate (dq.check_constraints): three
    business rules folded into ONE combinable aggregation; false OR
    NULL both count as violations (the dbt-test convention)."""
    from docetl_spark.functions.dq import check_constraints

    orders = _t(spark, sf_dir, "orders")
    return check_constraints(orders, {
        "price_positive": "o_totalprice > 0",
        "status_known": "o_orderstatus IN ('F', 'O', 'P')",
        "priority_prefixed": "o_orderpriority LIKE '%-%'",
    })


def lineitem_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity scan (dq.fk_violations): lineitem rows
    whose (synthetically thinned) orders parent is missing — one LEFT
    ANTI join against the pruned key projection; NULL FKs orphan by
    LEFT ANTI semantics. Parent thinned by orderkey%97 so the check
    has real hits at every SF."""
    from docetl_spark.functions.dq import fk_violations

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    parent = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 != 0)
    return fk_violations(li, parent, {"l_orderkey": "o_orderkey"})


def events_stream_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming histogram twin: stateless cents+bin projection feeds
    an update-mode exactly-once count per (type, bin); the drained bin
    table finishes through the IDENTICAL batch share plan via
    histogram(weight_col=...). Oracle = the batch histogram SQL —
    streaming/batch parity is the check."""
    from docetl_spark.functions.stats import histogram
    from docetl_spark.streaming import events as stream_ops

    ev = stream_ops.read_events_stream(spark, f"{sf_dir}/events.parquet")
    c = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    binned = ev.filter(F.col("value").isNotNull()).select(
        "event_type", (c - F.pmod(c, F.lit(25))).alias("bin_lo")
    )
    counts = binned.groupBy("event_type", "bin_lo").count()
    rows = stream_ops.run_available_now(
        counts,
        checkpoint=stream_ops.scratch_checkpoint_dir("ckpt_hist_"),
        dedupe_keys=["event_type", "bin_lo"],
        shuffle_partitions=stream_ops.adaptive_state_partitions(spark, f"{sf_dir}/events.parquet"),
    )
    drained = stream_ops.drained_df(
        spark, rows, "event_type string, bin_lo long, count long"
    )
    return histogram(
        drained.withColumn("_v", F.col("bin_lo") / 100.0),
        "_v", bin_width=0.25, by=["event_type"], weight_col="count",
    )


def events_stream_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming cumulative-value twin (running_totals_stateful):
    O(1) fixed-point state per user, append-mode per-event emission
    bridging micro-batch boundaries; an in-order availableNow drain
    reproduces the batch running frame exactly (oracle = the batch
    window SQL, shares omitted — no online meaning)."""
    from docetl_spark.streaming import events as stream_ops

    ev = stream_ops.read_events_stream(spark, f"{sf_dir}/events.parquet")
    out = stream_ops.running_totals_stateful(
        ev.select("user_id", "ts", "event_id", "value")
    )
    rows = stream_ops.run_available_now(
        out,
        checkpoint=stream_ops.scratch_checkpoint_dir("ckpt_srt_"),
        output_mode="append", shuffle_partitions=stream_ops.adaptive_state_partitions(spark, f"{sf_dir}/events.parquet"),
    )
    return stream_ops.drained_df(
        spark, rows, "user_id long, event_id long, cum_value long"
    )


def events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling DAU/WAU/MAU (timeseries.active_users): raw events
    collapse to distinct user-days ONCE, fan out x30 on the collapsed
    table only, then one multi-distinct aggregation (Expand) per report
    day; quiet manufactured days semi-joined away. The textbook exact
    sliding-distinct plan — cost bounded by users x days, not events."""
    from docetl_spark.functions.timeseries import active_users

    ev = _t(spark, sf_dir, "events")
    return active_users(ev, "ts", user_col="user_id", windows=(1, 7, 30))


def docs_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic systematic PPS sampling (training.sample_pps):
    ~20 docs per language, selection probability proportional to
    n_chars — exact integer boundary crossings (cum*n DIV tot), no
    libm ln(), replays bit-for-bit in the oracle. One shuffle on the
    stratum; multiplicity surfaces as n_copies."""
    from docetl_spark.functions.training import sample_pps

    docs = _t(spark, sf_dir, "documents")
    return sample_pps(
        docs, "n_chars", 20, order_by=["doc_id"], strata=["lang"]
    ).select("lang", "doc_id", "n_copies")


def docs_percentile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-(lang, source) percentile rank of document length as
    exact integer basis points (training.percentile_normalize) — the
    cross-source score equalizer; PERCENT_RANK's formula with the
    double division cleared, ties share ranks exactly."""
    from docetl_spark.functions.training import percentile_normalize

    docs = _t(spark, sf_dir, "documents")
    return percentile_normalize(
        docs, "n_chars", by=["lang", "source"]
    ).select("doc_id", "lang", "source", "pct_bp")


def events_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (timeseries.merge_rollup):
    the per-user state built from 80% of events (event_id%5 != 0) is
    folded with the remaining 20% as a raw delta — one combinable
    groupBy over the DELTA plus one full-outer key join, never
    rescanning the base. Oracle = the full recompute, which the merge
    must equal EXACTLY (commutative/associative states only)."""
    from docetl_spark.functions.timeseries import merge_rollup, rollup_state

    ev = _t(spark, sf_dir, "events")
    aggs = {"n": ("count", "value"), "sum_cents": ("sum", "value"),
            "min_value": ("min", "value"), "max_value": ("max", "value")}
    base = rollup_state(ev.filter(F.col("event_id") % 5 != 0), ["user_id"], aggs)
    delta = ev.filter(F.col("event_id") % 5 == 0)
    return merge_rollup(base, delta, ["user_id"], aggs)


def orders_apply_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-INTO semantics (timeseries.apply_cdc): a synthetic
    changelog (two change generations per %6==0 key, deletes on
    %15==0, inserts of never-seen keys via the %5 base split) folds
    into the base snapshot through one changelog-compaction window +
    ONE null-safe full-outer key join — the base is never rescanned."""
    from docetl_spark.functions.timeseries import apply_cdc

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = orders.filter(F.col("o_orderkey") % 5 != 0)
    gen1 = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        F.lit(1).alias("change_ts"), F.lit(1).alias("change_id"),
        F.when(F.col("o_orderkey") % 15 == 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.lit("X").alias("o_orderstatus"),
        (F.col("o_totalprice") * 2.0).alias("o_totalprice"),
    )
    gen2 = orders.filter(F.col("o_orderkey") % 6 == 0).select(
        "o_orderkey",
        F.lit(2).alias("change_ts"), F.lit(2).alias("change_id"),
        F.lit("U").alias("op"),
        F.lit("Y").alias("o_orderstatus"),
        (F.col("o_totalprice") * 3.0).alias("o_totalprice"),
    )
    return apply_cdc(
        base, gen1.unionByName(gen2), keys=["o_orderkey"],
        ts_col="change_ts", tiebreak="change_id",
    )


def events_state_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-in-state report (timeseries.state_durations): per (user,
    event_type), visits and total nanoseconds until the next event —
    LEAD-closed intervals, ONE shuffle on the user key, pure integer
    epoch subtraction (dangling final visits contribute NULL-honestly)."""
    from docetl_spark.functions.timeseries import state_durations

    ev = _t(spark, sf_dir, "events")
    return state_durations(
        ev, keys=["user_id"], ts_col="ts", state_col="event_type",
        tiebreak="event_id",
    )


def events_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted quantiles (stats.weighted_quantiles): per event
    type, the value at 25/50/90% of cumulative (fixed-point) weight —
    duplicate values collapse map-side, the cumulative window rides the
    same shuffle, the quantile cut is the cross-multiplied integer
    comparison cum*10000 >= q_bp*total (no doubles near the cut)."""
    from docetl_spark.functions.stats import weighted_quantiles

    ev = _t(spark, sf_dir, "events")
    return weighted_quantiles(
        ev, "value", "value", qs_bp=[2500, 5000, 9000], by=["event_type"]
    )


def events_trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type OLS trend (stats.trend_fit): slope of value-cents per
    second as an exact integer (1e6-scaled, cross-multiplied OLS sums in
    decimal(38,0); x centered on the group min so n*Sxx stays in 38
    digits). Two map-side-combinable exchanges, no window, no sort."""
    from docetl_spark.functions.stats import trend_fit

    ev = _t(spark, sf_dir, "events")
    return trend_fit(ev, "ts", "value", by=["event_type"])


def events_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford leading-digit screen (stats.benford_profile): digit from
    the FIXED-POINT STRING (never log10 doubles), expected shares as
    pinned integer literals, deviation in integer basis points. One
    9-cells-per-group aggregation."""
    from docetl_spark.functions.stats import benford_profile

    ev = _t(spark, sf_dir, "events")
    return benford_profile(ev, "value")


def events_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged-interval coverage (timeseries.interval_union): synthetic
    [ts, ts + cents*1e7 ns] intervals per user (fixed-point duration —
    a bare double*1e9 cast truncates in Spark but ROUNDS in DuckDB),
    unioned by the gaps-and-islands window cascade on ONE shuffle."""
    from docetl_spark.functions.timeseries import interval_union

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    iv = ev.select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts")
         + F.floor(F.abs(F.col("value")) * 100 + 0.5).cast("long") * 10_000_000
         ).alias("e"),
    )
    return interval_union(iv, keys=["user_id"], start_col="s", end_col="e")


def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top session path prefixes (timeseries.session_paths): each user's
    first 4 event types joined '>', global top-25 by frequency — rank
    window + per-session fold on ONE key shuffle, then a single
    TakeOrderedAndProject (never a bare global window)."""
    from docetl_spark.functions.timeseries import session_paths

    ev = _t(spark, sf_dir, "events")
    return session_paths(
        ev, session_keys=["user_id"], state_col="event_type", ts_col="ts",
        tiebreak="event_id", max_len=4, top=25,
    )


def events_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 AR coefficient per user (timeseries.autocorr_lag): OLS of
    v_t on v_{t-1} in exact decimal sums, emitted as the integer
    ar_micro (cross-multiplied DIV — bit-replayable, unlike double
    corr()). LAG window + five-sum agg on ONE shuffle."""
    from docetl_spark.functions.timeseries import autocorr_lag

    ev = _t(spark, sf_dir, "events")
    return autocorr_lag(ev, "value", keys=["user_id"], ts_col="ts",
                        lag=1, tiebreak="event_id")


def events_null_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-NULL-run screen (timeseries.null_runs): NULLs
    injected deterministically (event_id % 7), runs found by the
    rn-difference gaps-and-islands trick on ONE shuffle; keys with no
    NULLs still surface as zero rows."""
    from docetl_spark.functions.timeseries import null_runs

    ev = _t(spark, sf_dir, "events").withColumn(
        "val", F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
    )
    return null_runs(ev, "val", keys=["user_id"], ts_col="ts", tiebreak="event_id")


def events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upward CUSUM level-shift detector (timeseries.changepoint_cusum):
    the max(0, s+d) recursion via its closed form cum - running_min(cum),
    n-scaled so the per-key mean stays an exact rational; alarm is the
    cross-multiplied integer comparison. ONE key shuffle, window-only."""
    from docetl_spark.functions.timeseries import changepoint_cusum

    ev = _t(spark, sf_dir, "events")
    return changepoint_cusum(ev, "value", keys=["user_id"], ts_col="ts",
                             threshold=50.0, tiebreak="event_id")


def lineitem_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket mining (stats.basket_pairs): brands bought together
    per order — distinct (order, brand) collapse, self-equi-join on the
    order key (work bounded by basket width), broadcast per-item counts;
    support/confidence/lift all exact integer fixed point."""
    from docetl_spark.functions.stats import basket_pairs

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return basket_pairs(baskets, "l_orderkey", "p_brand")


def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-overlap matrix (stats.audience_overlap): per event-type
    pair, users in both / either and exact Jaccard bp; empty overlaps
    still surface via the LEFT join from the group grid."""
    from docetl_spark.functions.stats import audience_overlap

    ev = _t(spark, sf_dir, "events")
    return audience_overlap(ev, "user_id", "event_type")


def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (stats.rfm_segments): per customer recency /
    frequency / monetary quintiles via the distributed EXACT-NTILE
    closed form (_ntile_from_rank — first total%k buckets take the
    extra row), segment = 'R{r}F{f}M{m}'."""
    from docetl_spark.functions.stats import rfm_segments

    orders = _t(spark, sf_dir, "orders").withColumn(
        # TIMESTAMP_NTZ cannot cast to long; date arithmetic is
        # session-timezone-free on both engines
        "order_epoch",
        F.datediff(F.col("o_orderdate").cast("date"),
                   F.to_date(F.lit("1970-01-01"))).cast("long") * 86400,
    )
    return rfm_segments(orders, keys=["o_custkey"], ts_col="order_epoch",
                        amount_col="o_totalprice")


def part_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo/variant screen (dedup.edit_distance_pairs): distinct part
    names within Levenshtein distance 2, prefix-blocked with
    length-bucket adjacency (every |dlen|<=d pair meets exactly once;
    levenshtein runs JVM-side on candidates only)."""
    from docetl_spark.functions.dedup import edit_distance_pairs

    names = _t(spark, sf_dir, "part").select("p_name").distinct()
    return edit_distance_pairs(names, "p_name", "p_name",
                               max_distance=2, prefix_len=4, block="suffix")


def orders_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini concentration (stats.gini_bp): order-value inequality
    per priority class — ascending rank window + three decimal sums on
    ONE shuffle, figure emitted as integer basis points."""
    from docetl_spark.functions.stats import gini_bp

    orders = _t(spark, sf_dir, "orders")
    return gini_bp(orders, "o_totalprice", by=["o_orderpriority"])


def part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand 2-D skyline (stats.skyline_2d): cheapest-per-size
    frontier (minimize retail price, maximize size) via the sort-scan
    window — one shuffle, no n² dominance join; p_partkey tiebreak pins
    which exact-duplicate point survives."""
    from docetl_spark.functions.stats import skyline_2d

    part = _t(spark, sf_dir, "part").select(
        "p_brand", "p_retailprice", "p_size", "p_partkey"
    )
    return skyline_2d(part, "p_retailprice", "p_size", by=["p_brand"],
                      tiebreak=["p_partkey"])


def events_pop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week comparison (timeseries.period_over_period): weekly
    fixed-point sums per event type with exact bp change vs the
    IMMEDIATELY preceding week (bucket-adjacency LAG guard — a gap week
    yields NULL, not a comparison against the last nonempty week)."""
    from docetl_spark.functions.timeseries import period_over_period

    ev = _t(spark, sf_dir, "events")
    return period_over_period(
        ev, "ts", "value", width_ns=7 * 86_400 * 10**9, by=["event_type"]
    )


def events_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM twin (streaming.cusum_stateful): O(1) integer
    state per user, fixed reference level (an online detector cannot
    know the future mean), append-mode per-event emission; an in-order
    drain replays the batch closed form with the same fixed reference
    bit-for-bit (oracle = that SQL)."""
    from docetl_spark.streaming import events as stream_ops

    ev = stream_ops.read_events_stream(spark, f"{sf_dir}/events.parquet")
    out = stream_ops.cusum_stateful(
        ev.select("user_id", "ts", "event_id", "value"),
        ref_value=50.0, threshold=500.0,
    )
    rows = stream_ops.run_available_now(
        out,
        checkpoint=stream_ops.scratch_checkpoint_dir("ckpt_scu_"),
        output_mode="append", shuffle_partitions=stream_ops.adaptive_state_partitions(spark, f"{sf_dir}/events.parquet"),
    )
    return stream_ops.drained_df(
        spark, rows, "user_id long, event_id long, cusum_cents long, alarm boolean"
    )


def events_stream_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift twin (streaming.dist_drift_stateful): per-day
    TV distance vs a broadcast uniform reference distribution (2000 bp
    per event type), state = per-window category count map, update-mode
    emission deduped to each window's final row — which hash-matches
    the batch share/TV SQL exactly (floored-bp shares, Σ|Δ| DIV 2)."""
    from docetl_spark.streaming import events as stream_ops

    ev = stream_ops.read_events_stream(spark, f"{sf_dir}/events.parquet")
    day = F.expr("(ts - pmod(ts, 86400000000000)) DIV 86400000000000")
    src = ev.select(day.alias("window_start"), "event_type")
    ref = {"click": 2000, "error": 2000, "purchase": 2000,
           "signup": 2000, "view": 2000}
    out = stream_ops.dist_drift_stateful(src, ref_shares_bp=ref)
    rows = stream_ops.run_available_now(
        out,
        checkpoint=stream_ops.scratch_checkpoint_dir("ckpt_sdr_"),
        dedupe_keys=["window_start"], output_mode="update",
        shuffle_partitions=stream_ops.adaptive_state_partitions(spark, f"{sf_dir}/events.parquet"),
    )
    return stream_ops.drained_df(
        spark, rows,
        "window_start long, n long, n_categories long, tv_bp long",
    )


def orders_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency quantiles: a pure composition query —
    lineitem joined to orders (both date-typed, TZ-free day arithmetic),
    per-priority EXACT p50/p90/p99 of the latency in days through the
    scale-safe exact_quantiles formulation (sorted window + two-neighbor
    conditional agg, never a value-buffering percentile())."""
    from docetl_spark.functions.stats import exact_quantiles

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "o_orderpriority",
        F.datediff(F.col("l_shipdate").cast("date"),
                   F.col("o_orderdate").cast("date")).cast("double").alias("lat_days"),
    )
    return exact_quantiles(j, "lat_days", [0.5, 0.9, 0.99], by=["o_orderpriority"])


def events_seasonal_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly flags (stats.seasonal_outliers):
    exact-z outliers per (event_type, dow, hod) cell — 'high for 3am
    Sunday', not 'high'; dow/hod via the integer floor-division idiom,
    flag via the cross-multiplied decimal comparison."""
    from docetl_spark.functions.stats import seasonal_outliers

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    return seasonal_outliers(ev, "value", "ts", by=["event_type"])


def docs_blocker_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-level blocker evaluation (stats.pair_metrics): a cheap
    32-char-prefix blocker's predicted duplicate pairs scored against
    exact-duplicate truth (identical normalized text) — TP/FP/FN and
    integer precision/recall/F1 bp, full-data (the reference judges
    blocking rules on sampled counts; this is the distributed version)."""
    from docetl_spark.functions.stats import pair_metrics

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.trim(F.col("text"))).alias("t")
    )
    a, b = docs.alias("a"), docs.alias("b")
    pred = a.join(
        b,
        (F.expr("substring(a.t, 1, 32)") == F.expr("substring(b.t, 1, 32)"))
        & (F.expr("a.doc_id") < F.expr("b.doc_id")),
    ).select(F.expr("a.doc_id").alias("id_a"), F.expr("b.doc_id").alias("id_b"))
    truth = a.join(
        b,
        (F.expr("a.t") == F.expr("b.t")) & (F.expr("a.doc_id") < F.expr("b.doc_id")),
    ).select(F.expr("a.doc_id").alias("id_a"), F.expr("b.doc_id").alias("id_b"))
    return pair_metrics(pred, truth)


def events_cohort_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV table (timeseries.cohort_values): users cohort by
    first-seen week; per (cohort, age) the period cents and the
    cohort's cumulative value — first-seen rides the entity shuffle,
    cumulative window rides the week-sized rollup."""
    from docetl_spark.functions.timeseries import cohort_values

    ev = _t(spark, sf_dir, "events")
    return cohort_values(ev, entity_col="user_id", ts_col="ts",
                         value_col="value", width_ns=7 * 86_400 * 10**9)


def events_decade_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-of-magnitude histogram (stats.decade_histogram): bucket =
    digit count of the fixed-point STRING (exact floor(log10)+1, no
    libm), per event type with integer bp shares."""
    from docetl_spark.functions.stats import decade_histogram

    ev = _t(spark, sf_dir, "events")
    return decade_histogram(ev, "value", by=["event_type"])


def events_session_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-duration quantiles: a composition query — sessionize ->
    per-session duration (exact second arithmetic) -> global EXACT
    p50/p90/p99 through the scale-safe exact_quantiles path (the
    distributed rank, never a one-partition global window)."""
    from docetl_spark.functions.stats import exact_quantiles

    sess = _sessionize_events(spark, sf_dir, None)
    dur = sess.select(
        (F.col("end_epoch") - F.col("start_epoch")).cast("double").alias("dur_s")
    )
    return exact_quantiles(dur, "dur_s", [0.5, 0.9, 0.99])


def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion experiment scorecard (stats.ab_test_summary):
    per-user purchase conversion across a derived variant split, pooled
    z² in its cleared-fraction integer form — the significance decision
    is a cross-multiplied comparison, bit-replayable in any engine."""
    from docetl_spark.functions.stats import ab_test_summary

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.when(F.col("user_id") % 2 == 0, F.lit("A")).otherwise(F.lit("B")).alias("variant"),
        (F.col("event_type") == "purchase").alias("converted"),
    )
    return ab_test_summary(ev, "variant", "converted", entity_col="user_id")


def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window funnel (timeseries.funnel within_ns): steps
    2..k only count within 3 days of the user's FIRST view — the
    running-min chain already carries the anchor, so the window is one
    extra predicate, not a join."""
    from docetl_spark.functions.timeseries import funnel

    ev = _t(spark, sf_dir, "events")
    return funnel(
        ev, ["view", "click", "purchase"],
        user_col="user_id", ts_col="ts", type_col="event_type",
        tiebreak="event_id", within_ns=3 * 86_400 * 10**9,
    )


def docs_collapse_rare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-category collapse (stats.collapse_rare): sources below 5%
    of docs fold to __other__ before a per-source report — one value
    count, broadcast keep-list, cross-multiplied integer cut."""
    from docetl_spark.functions.stats import collapse_rare

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    out = collapse_rare(docs, "source", min_share_bp=500)
    return out.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))


def events_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding (stats.target_encode_loo): each
    event's type encoded as the type's mean value EXCLUDING the row
    itself, integer milli-cents — the leakage-controlled categorical
    feature, one aggregation + null-safe broadcast join."""
    from docetl_spark.functions.stats import target_encode_loo

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return target_encode_loo(ev, "event_type", "value")


def events_funnel_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion-rate report: a composition query — the
    windowed funnel's per-user outcomes rolled to step counts with
    exact cumulative conversion bp (n_reached_k * 10000 DIV n_entered)."""
    fw = events_funnel_windowed(spark, sf_dir)
    # users at step >= k, for k = 0..3, via a small conditional agg
    agg = fw.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("reached") >= 1, 1).otherwise(0)).alias("n_ge1"),
        F.sum(F.when(F.col("reached") >= 2, 1).otherwise(0)).alias("n_ge2"),
        F.sum(F.when(F.col("reached") >= 3, 1).otherwise(0)).alias("n_ge3"),
    )
    return agg.select(
        "n_total", "n_ge1", "n_ge2", "n_ge3",
        F.expr("n_ge1 * 10000 DIV n_total").alias("rate1_bp"),
        F.expr("CASE WHEN n_ge1 = 0 THEN NULL ELSE n_ge2 * 10000 DIV n_ge1 END").alias("rate2_of_1_bp"),
        F.expr("CASE WHEN n_ge2 = 0 THEN NULL ELSE n_ge3 * 10000 DIV n_ge2 END").alias("rate3_of_2_bp"),
    )


def events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness: a composition over the exact rolling
    active_users table — per report day, dau * 10000 DIV mau (exact
    integer; engagement's favorite ratio)."""
    from docetl_spark.functions.timeseries import active_users

    ev = _t(spark, sf_dir, "events")
    au = active_users(ev, "ts", user_col="user_id")
    return au.select(
        "day", "au_1d", "au_30d",
        F.expr("CASE WHEN au_30d = 0 THEN NULL ELSE au_1d * 10000 DIV au_30d END")
        .alias("stickiness_bp"),
    )


def events_new_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning weekly split: users first seen this week vs
    active-but-older — one first-seen window on the user shuffle, one
    (week)-grain aggregation; the growth-accounting table."""
    W_NS = 7 * 86_400 * 10**9
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    t = F.col("ts").cast("long")
    b = (t - F.pmod(t, F.lit(W_NS))).alias("week_ns")
    wk = ev.select("user_id", b)
    from pyspark.sql import Window as _W

    first = wk.withColumn("_first", F.min("week_ns").over(_W.partitionBy("user_id")))
    per = first.select("user_id", "week_ns", "_first").distinct()
    return (
        per.groupBy("week_ns")
        .agg(
            F.sum(F.when(F.col("week_ns") == F.col("_first"), 1).otherwise(0)).alias("n_new"),
            F.sum(F.when(F.col("week_ns") != F.col("_first"), 1).otherwise(0)).alias("n_returning"),
        )
    )


def events_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap distribution: per-user LAG gaps in seconds fed to
    the exact fixed-width histogram (composition — one user shuffle for
    the gaps, one combinable groupBy for the bins)."""
    from docetl_spark.functions.stats import histogram
    from pyspark.sql import Window as _W

    ev = _t(spark, sf_dir, "events")
    w = _W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gaps = ev.withColumn(
        "gap_s",
        ((F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w))
         / F.lit(1_000_000_000.0)),
    ).filter(F.col("gap_s").isNotNull())
    return histogram(gaps, "gap_s", bin_width=3600.0, scale=1)


def events_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC (stats.auc_rank): how well does event value
    separate purchases from everything else — Mann-Whitney midrank
    sums on ONE distinct-score shuffle, figure decided by integer DIV
    (doubled midranks keep every intermediate an integer)."""
    from docetl_spark.functions.stats import auc_rank

    ev = _t(spark, sf_dir, "events").withColumn(
        "label", (F.col("event_type") == "purchase").cast("int")
    )
    return auc_rank(ev, "value", "label")


def events_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence (stats.chi_square_bp): is event type
    independent of day-of-week — full r×c grid INCLUDING zero-observed
    cells via the broadcast marginal join, every cell term an integer
    DIV with the e = r·c/n division cleared."""
    from docetl_spark.functions.stats import chi_square_bp

    ev = _t(spark, sf_dir, "events").withColumn(
        "dow", F.expr("CAST((ts DIV 86400000000000 + 4) % 7 AS INT)")
    )
    return chi_square_bp(ev, "event_type", "dow")


def events_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov (stats.ks_statistic): purchase vs
    view value distributions — cross-multiplied integer CDF gap on one
    distinct-value shuffle, max re-agg, zero doubles near the figure."""
    from docetl_spark.functions.stats import ks_statistic

    ev = _t(spark, sf_dir, "events")
    return ks_statistic(ev, "value", "event_type",
                        group_a="purchase", group_b="view")


def orders_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (stats.concentration_hhi): per priority
    class, how concentrated is order value across customers — HHI and
    top-share in integer bp, two combinable aggs, no windows/joins."""
    from docetl_spark.functions.stats import concentration_hhi

    orders = _t(spark, sf_dir, "orders")
    return concentration_hhi(orders, "o_totalprice", "o_custkey",
                             by=["o_orderpriority"])


def users_event_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity (stats.diversity_simpson): per-user unbiased
    Simpson index over event types — the without-replacement form is a
    ratio of integers by construction (no entropy logs), one combinable
    count + one re-agg."""
    from docetl_spark.functions.stats import diversity_simpson

    ev = _t(spark, sf_dir, "events")
    return diversity_simpson(ev, "event_type", by=["user_id"])


def events_mode_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-user mode (stats.mode_by): each user's most
    frequent event type (smallest-value tiebreak) with exact count and
    integer-bp share — count agg + one window over the collapsed
    distinct-value table."""
    from docetl_spark.functions.stats import mode_by

    ev = _t(spark, sf_dir, "events")
    return mode_by(ev, "event_type", by=["user_id"])


def events_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table (stats.lift_table): value-ranked deciles vs the
    purchase label — global NTILE via the distributed range-partitioned
    rank (never a bare global window), cumulative lift as integer bp."""
    from docetl_spark.functions.stats import lift_table

    ev = _t(spark, sf_dir, "events").withColumn(
        "label", (F.col("event_type") == "purchase").cast("int")
    )
    return lift_table(ev, "value", "label", buckets=10, tiebreak=["event_id"])


def docs_vocab_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical richness per language (text.vocab_profile): tokens,
    types, hapax legomena, TTR/hapax bp — vocabulary-cardinality
    shuffle after map-side combine, two pruned scans."""
    from docetl_spark.functions.text import vocab_profile

    docs = _t(spark, sf_dir, "documents")
    return vocab_profile(docs, "text", id_col="doc_id", by=["lang"])


def docs_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup planning report (dedup.dup_cluster_sizes): exact-duplicate
    cluster-size distribution over the corpus doubled with an upper-cased
    variant (same construction as dedup_exact's test bed — every doc's
    fingerprint cluster has >= 2 members, plus any real dups on top).
    Two combinable aggs; the second shuffle moves one row per cluster."""
    from docetl_spark.functions.dedup import dup_cluster_sizes

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionByName(docs.withColumn("text", F.upper(F.col("text"))))
    return dup_cluster_sizes(doubled, "text")


def events_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak burst rate (timeseries.bursts): each user's max event count
    in any sliding 1-hour window plus the earliest peak start — one
    RANGE window on epoch-ns longs riding the per-user shuffle."""
    from docetl_spark.functions.timeseries import bursts

    ev = _t(spark, sf_dir, "events")
    return bursts(ev, keys=["user_id"], ts_col="ts", window_ns=3600 * 10**9)


def events_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix with probabilities
    (timeseries.transition_probs): per-user event streams rolled to the
    global from->to matrix, P(to|from) as integer bp via one window
    over the state-pair-cardinality counts."""
    from docetl_spark.functions.timeseries import transition_probs

    ev = _t(spark, sf_dir, "events")
    return transition_probs(
        ev, keys=["user_id"], ts_col="ts", state_col="event_type",
        tiebreak="event_id",
    )


def orders_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC coverage (stats.pareto_coverage): per priority class,
    how many top customers cover 50/80/90% of order value — descending
    cumulative-share window on the entity rollup, cross-multiplied
    integer threshold cut, min-k re-agg."""
    from docetl_spark.functions.stats import pareto_coverage

    orders = _t(spark, sf_dir, "orders")
    return pareto_coverage(
        orders, "o_totalprice", "o_custkey",
        thresholds_bp=(5000, 8000, 9000), by=["o_orderpriority"],
    )


def lineitem_r2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact r² (stats.correlation_r2): quantity vs extended price per
    return flag, in whole units (x_scale=y_scale=1 keeps the six-sum
    arithmetic inside decimal(38,0) at bench scale) — num²·10⁴ DIV
    (dx·dy), one combinable aggregation, loud beyond the exact range."""
    from docetl_spark.functions.stats import correlation_r2

    li = _t(spark, sf_dir, "lineitem")
    return correlation_r2(
        li, "l_quantity", "l_extendedprice",
        by=["l_returnflag"], x_scale=1, y_scale=1,
    )


def events_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining (timeseries.sequence_ngrams): the 25
    most common 3-step behavior paths across user event streams — one
    lead-window pass, state-tuple-cardinality count, TakeOrdered top-k
    with a full deterministic tiebreak."""
    from docetl_spark.functions.timeseries import sequence_ngrams

    ev = _t(spark, sf_dir, "events")
    return sequence_ngrams(
        ev, keys=["user_id"], ts_col="ts", state_col="event_type",
        n=3, tiebreak="event_id", top_n=25,
    )


def docs_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law diagnostic (text.zipf_profile): top-30 corpus terms
    with rank, rank·tf (constant under ideal Zipf), and share of the
    top term in bp — TakeOrdered vocabulary top-k, then rank over the
    k-row table only."""
    from docetl_spark.functions.text import zipf_profile

    docs = _t(spark, sf_dir, "documents")
    return zipf_profile(docs, "text", id_col="doc_id", top_n=30)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


# --------------------------------------------------------------------------
# round-10 wave: association / drift / survival / stream analytics


def lineitem_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Spearman (mlstats.spearman_by): quantity vs price
    per return flag — grouped midrank windows + centered-rank integer
    moments; sign + rho² in exact bp."""
    from docetl_spark.functions.mlstats import spearman_by

    li = _t(spark, sf_dir, "lineitem")
    return spearman_by(li, "l_quantity", "l_extendedprice", by=["l_returnflag"])


def events_spearman_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL Spearman over the day-grain series (daily event count vs
    daily value cents) — exercises the distributed-prefix-sum midrank
    path (never a bare global window)."""
    from docetl_spark.functions.mlstats import spearman_by

    ev = _t(spark, sf_dir, "events").withColumn("_e", _epoch_s("ts"))
    daily = ev.groupBy(
        F.expr("(_e - pmod(_e, 86400)) DIV 86400").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_ev"),
        F.sum(F.expr(
            "CAST(floor(value * 100 + 0.5) AS DECIMAL(38,0))")).alias("cents"),
    )
    return spearman_by(daily.withColumn("cents", F.col("cents").cast("double")),
                       "n_ev", "cents")


def orders_cramers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V² (mlstats.cramers_v2) between order status and
    priority — chi² grid + level counts, exact integer bp."""
    from docetl_spark.functions.mlstats import cramers_v2

    return cramers_v2(_t(spark, sf_dir, "orders"),
                      "o_orderstatus", "o_orderpriority")


def docs_impurity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini impurity decomposition (mlstats.impurity_by): how much the
    document source tells you about language — parent/weighted-child/
    reduction in exact bp, one raw shuffle."""
    from docetl_spark.functions.mlstats import impurity_by

    return impurity_by(_t(spark, sf_dir, "documents"), "source", "lang")


def _events_with_period(spark, sf_dir):
    # epoch day 0 = Thursday, so d % 7 ∈ {2, 3} ⟺ Sat/Sun — pure
    # integer on both engines (no timezone/dayofweek builtin drift)
    ev = _t(spark, sf_dir, "events").withColumn("_e", _epoch_s("ts"))
    return ev.withColumn(
        "_day", F.expr("(_e - pmod(_e, 86400)) DIV 86400")
    ).withColumn(
        "period",
        F.when(F.expr("pmod(_day, 7)").isin(2, 3), F.lit("weekend"))
        .otherwise(F.lit("weekday")),
    )


def events_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-variation distribution drift (mlstats.dist_drift) of the
    event-type mix, weekday vs weekend — the exact-integer PSI
    replacement; NULL category would be a real level."""
    from docetl_spark.functions.mlstats import dist_drift

    return dist_drift(_events_with_period(spark, sf_dir), "event_type",
                      "period", base="weekday", current="weekend")


def events_drift_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-category drift detail (mlstats.dist_drift detail=True):
    signed bp movement per event type, weekday -> weekend."""
    from docetl_spark.functions.mlstats import dist_drift

    return dist_drift(_events_with_period(spark, sf_dir), "event_type",
                      "period", base="weekday", current="weekend", detail=True)


def orders_woe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evidence table (mlstats.woe_table): order priority vs the
    finished-status label — class shares + cross-multiplied exact odds
    ratio (monotone-equivalent to WOE, no ln near a decision)."""
    from docetl_spark.functions.mlstats import woe_table

    od = _t(spark, sf_dir, "orders").withColumn(
        "label", (F.col("o_orderstatus") == "F").cast("int"))
    return woe_table(od, "o_orderpriority", "label")


def lineitem_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed mean price per return flag
    (mlstats.trimmed_mean_by): fixed-point cents, exact tail drop by
    per-group rank. r12: rank_impl picked from the DRIVER-KNOWN input
    size — the 3-value group key serializes the window impl's per-group
    sort into 3 tasks (9.8 s at sf1, paired A/B: range 4.0-5.2 s calm),
    but the grouped range-partition rank pays ~4 extra small jobs that
    LOSE at floor-dominated sizes (sf0.1 paired A/B: window won all
    three rounds). Same result either way (tie order is kept-sum
    invariant; oracle green on both)."""
    import os as _os

    from docetl_spark.functions.mlstats import trimmed_mean_by

    _p = f"{sf_dir}/lineitem.parquet"
    _bytes = (
        _os.path.getsize(_p) if _os.path.isfile(_p)
        else sum(_os.path.getsize(_os.path.join(r, f))
                 for r, _, fs in _os.walk(_p) for f in fs))
    impl = "range" if _bytes > (32 << 20) else "window"
    return trimmed_mean_by(_t(spark, sf_dir, "lineitem"),
                           "l_extendedprice", by=["l_returnflag"], trim_bp=500,
                           rank_impl=impl)


def events_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend (mlstats.mann_kendall_by) of each user's
    DAILY event count — pre-aggregated to day grain (the documented
    quadratic-pairs contract), exact S decomposition."""
    from docetl_spark.functions.mlstats import mann_kendall_by

    ev = _t(spark, sf_dir, "events").withColumn("_e", _epoch_s("ts"))
    daily = ev.groupBy(
        "user_id", F.expr("(_e - pmod(_e, 86400)) DIV 86400").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_ev"))
    return mann_kendall_by(daily, "day", "n_ev", by=["user_id"])


def customer_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier customer-lifetime curve (mlstats.kaplan_meier):
    duration = months between first and last order; a customer whose
    last order predates the corpus horizon by > 60 days counts as a
    churn event, else censored. Survival is the ordered-fold double
    (the ewma cross-engine precedent)."""
    from docetl_spark.functions.mlstats import kaplan_meier
    from docetl_spark.functions.stats import broadcast_scalar_join

    od = _t(spark, sf_dir, "orders").withColumn(
        "day", F.datediff("o_orderdate", F.lit("1970-01-01").cast("date")))
    per_c = od.groupBy("o_custkey").agg(
        F.min("day").alias("first_day"), F.max("day").alias("last_day"))
    horizon = per_c.agg(F.max("last_day").alias("horizon"))
    base = broadcast_scalar_join(per_c, horizon,
                                 df_col="last_day", scalar_col="horizon")
    labeled = base.select(
        F.expr("(last_day - first_day) DIV 30").alias("months"),
        (F.col("last_day") < F.col("horizon") - 60).cast("int").alias("churned"),
    )
    return kaplan_meier(labeled, "months", "churned")


def events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best mean-shift changepoint per user value stream
    (timeseries.changepoint_mean_shift): prefix sums + argmax struct,
    exact integer scoring; score cast long at the query grain."""
    from docetl_spark.functions.timeseries import changepoint_mean_shift

    ev = _t(spark, sf_dir, "events")
    out = changepoint_mean_shift(
        ev, keys=["user_id"], ts_col="ts", value_col="value",
        tiebreak="event_id")
    return out.withColumn("score", F.col("score").cast("long"))


def events_sma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden/death SMA crossings per user value stream
    (timeseries.sma_crossover): cross-multiplied window sums, one
    keyed sort."""
    from docetl_spark.functions.timeseries import sma_crossover

    ev = _t(spark, sf_dir, "events")
    return sma_crossover(ev, keys=["user_id"], ts_col="ts",
                         value_col="value", short_n=3, long_n=7,
                         tiebreak="event_id")


def events_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Above-mean runs per user value stream (timeseries.runs_by):
    Wald-Wolfowitz runs count + longest run, exact cents comparison."""
    from docetl_spark.functions.timeseries import runs_by

    ev = _t(spark, sf_dir, "events")
    return runs_by(ev, keys=["user_id"], ts_col="ts", value_col="value",
                   tiebreak="event_id")


def events_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation table lags 1-3 per user
    (timeseries.acf_table): one window pass + one aggregation, exact
    integer ar_micro per lag."""
    from docetl_spark.functions.timeseries import acf_table

    ev = _t(spark, sf_dir, "events")
    return acf_table(ev, keys=["user_id"], ts_col="ts", value_col="value",
                     max_lag=3, tiebreak="event_id")


def events_session_bounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry/exit/bounce report per event type
    (timeseries.session_entry_exit): 30-min gap sessionization, page
    cardinality after one keyed sort."""
    from docetl_spark.functions.timeseries import session_entry_exit

    ev = _t(spark, sf_dir, "events").withColumn("_e", _epoch_s("ts"))
    return session_entry_exit(
        ev, keys=["user_id"], ts_col="_e", page_col="event_type",
        gap=1800, tiebreak="event_id")


def docs_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth (text.vocab_growth): cumulative
    tokens vs distinct terms at 100-doc checkpoints, distributed
    prefix sums."""
    from docetl_spark.functions.text import vocab_growth

    return vocab_growth(_t(spark, sf_dir, "documents"), "text",
                        id_col="doc_id", step=100)


def docs_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum manifest (training.curriculum_order): 4 length tiers
    round-robined into a deterministic position order — distributed
    exact NTILE + one global rank."""
    from docetl_spark.functions.training import curriculum_order

    return curriculum_order(_t(spark, sf_dir, "documents"), "n_chars",
                            id_cols=["doc_id"], n_tiers=4)


def docs_curriculum_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """curriculum_order(dense_positions=True): the round-robin manifest
    re-ranked by one more distributed global row_number so positions
    are a true 1..N row index (the gapped default is ordering-only) —
    ADVICE r10's suggested alternative, shipped as an option."""
    from docetl_spark.functions.training import curriculum_order

    return curriculum_order(_t(spark, sf_dir, "documents"), "n_chars",
                            id_cols=["doc_id"], n_tiers=4,
                            dense_positions=True)


def events_value_ecdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global ECDF of the value distribution at distinct-cents
    grain: percent_rank and cume_dist in integer bp via the
    distributed range-partitioned prefix sum over the distinct-value
    table (the posture a bare PERCENT_RANK() window would violate)."""
    from docetl_spark.functions.stats import _global_cumsum

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    dv = ev.groupBy(
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("value_cents")
    ).agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("_c"))
    cum, totals = _global_cumsum(
        dv, F.col("value_cents").asc(), ["_c"], with_totals=True)
    n = int(totals["_c"])
    return cum.select(
        "value_cents",
        F.col("_c").cast("long").alias("n"),
        F.expr(f"CAST((_c_cum - _c) * 10000 DIV {max(n - 1, 1)} AS BIGINT)")
        .alias("pct_rank_bp"),
        F.expr(f"CAST(_c_cum * 10000 DIV {n} AS BIGINT)").alias("cume_bp"),
    )


def part_topk_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 retail prices per brand WITH ties (dense_rank <= 3): the
    per-group top-k-with-ties shape — one window per brand partition."""
    pt = _t(spark, sf_dir, "part")
    from pyspark.sql import Window as W

    w = W.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc())
    return (
        pt.withColumn("rnk", F.dense_rank().over(w))
        .filter(F.col("rnk") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice",
                F.col("rnk").cast("long").alias("rnk"))
    )


def orders_rollup_gid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING_ID over (status, priority): subtotal grid
    with machine-readable level markers, exact decimal totals."""
    od = _t(spark, sf_dir, "orders")
    return (
        od.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.expr(
                "CAST(floor(o_totalprice * 100 + 0.5) AS DECIMAL(38,0))"))
            .cast("long").alias("total_cents"),
            # grouping_id() is only legal inside the rollup aggregate
            F.grouping_id().cast("long").alias("gid"),
        )
    )


def lineitem_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau (mlstats.kendall_tau_by) between monthly quantity
    and monthly revenue per return flag — month-grain pre-aggregation
    (the documented quadratic-pairs contract), full tie decomposition,
    exact tau-a in bp."""
    from docetl_spark.functions.mlstats import kendall_tau_by

    li = _t(spark, sf_dir, "lineitem")
    # sums stay DECIMAL (never double): the tau comparisons are sign
    # tests on differences, and a 1-ulp decimal->double divergence
    # between engines could flip a tie into a concordance
    monthly = li.groupBy(
        "l_returnflag", F.expr("substring(CAST(l_shipdate AS STRING), 1, 7)")
        .alias("month")
    ).agg(
        F.sum(F.expr("CAST(l_quantity AS DECIMAL(18,4))")).alias("qty"),
        F.sum(F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS DECIMAL(38,0))"))
        .alias("rev_cents"),
    )
    return kendall_tau_by(monthly, "qty", "rev_cents", by=["l_returnflag"])


def events_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend slope (mlstats.theil_sen_by) of each
    user's daily event count — the median pairwise slope in exact
    fixed-point milli-units over the day-grain series."""
    from docetl_spark.functions.mlstats import theil_sen_by

    ev = _t(spark, sf_dir, "events").withColumn("_e", _epoch_s("ts"))
    daily = ev.groupBy(
        "user_id", F.expr("(_e - pmod(_e, 86400)) DIV 86400").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("n_ev"))
    return theil_sen_by(daily, "day", "n_ev", by=["user_id"], value_scale=1)


def events_theil_sen_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen sampled-pairs SCALE path (mlstats.theil_sen_by
    method='sampled'): each row draws 16 deterministic md5-offset
    partners within its group, the slope median is exact over the
    n·16 sampled pairs — linear, no quadratic pair join, and fully
    SQL-replayable (the md5 draw is the rank_comparison idiom)."""
    from docetl_spark.functions.mlstats import theil_sen_by

    ev = _t(spark, sf_dir, "events").withColumn("_e", _epoch_s("ts"))
    daily = ev.groupBy(
        "user_id", F.expr("(_e - pmod(_e, 86400)) DIV 86400").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("n_ev"))
    return theil_sen_by(
        daily, "day", "n_ev", by=["user_id"], value_scale=1,
        method="sampled",
    )


def events_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa inter-rater agreement (mlstats.cohen_kappa_by):
    rater A = the event type, rater B = a deterministic event_id-keyed
    label draw over the same five categories — exact integer kappa
    from ONE integral division (A·n − S) DIV (n² − S), never a ratio
    of floored shares."""
    from docetl_spark.functions.mlstats import cohen_kappa_by

    ev = _t(spark, sf_dir, "events")
    labels = F.array(*[F.lit(x) for x in
                       ["click", "error", "purchase", "signup", "view"]])
    df = ev.select(
        F.col("event_type").alias("ra"),
        F.element_at(labels, (F.pmod(F.col("event_id"), F.lit(5)) + 1)
                     .cast("int")).alias("rb"),
    )
    return cohen_kappa_by(df, "ra", "rb")


def events_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of the event-type mix, weekday vs
    weekend (mlstats.psi_by): exact floored-bp shares (zeros smoothed
    to 1 bp), per-category ln-terms rounded to DECIMAL(28,12) before
    the order-independent sum — the industry drift score as a
    bit-stable double (the bm25 double discipline)."""
    from docetl_spark.functions.mlstats import psi_by

    ev = _t(spark, sf_dir, "events").withColumn("_e", _epoch_s("ts"))
    df = ev.withColumn(
        "period",
        F.when(F.expr("((_e - pmod(_e, 86400)) DIV 86400) % 7").isin(2, 3),
               F.lit("weekend")).otherwise(F.lit("weekday")),
    )
    return psi_by(df, "event_type", "period",
                  base="weekday", current="weekend")


def docs_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc n-gram novelty (text.ngram_novelty): the share of each
    document's distinct trigrams whose corpus-first occurrence (min
    doc_id) is this document — the incremental-dedup decision figure
    as a per-doc score. One gram→min-id aggregation + equi-join back,
    no pair table."""
    from docetl_spark.functions import text as textf

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return textf.ngram_novelty(docs, "text", id_col="doc_id", n=3)


def events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup-to-first-purchase latency histogram at hour grain: per
    user, the first purchase AT/after the first signup; exact integer
    bucketing and shares. The funnel-latency report at bounded output
    cardinality."""
    ev = _t(spark, sf_dir, "events").withColumn("_e", _epoch_s("ts"))
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("_e"))).alias("s"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("_e"))).alias("p"),
    )
    lat = firsts.filter(
        F.col("s").isNotNull() & F.col("p").isNotNull() & (F.col("p") >= F.col("s"))
    ).select(F.expr("(p - s) DIV 3600").alias("hours"))
    counts = lat.groupBy("hours").agg(F.count(F.lit(1)).alias("n_users"))
    from docetl_spark.functions.stats import broadcast_scalar_join

    tot = counts.agg(F.sum("n_users").alias("_t"))
    return broadcast_scalar_join(counts, tot, df_col="n_users", scalar_col="_t") \
        .select("hours", "n_users",
                F.expr("CAST(CAST(n_users AS DECIMAL(38,0)) * 10000"
                       " DIV CAST(_t AS DECIMAL(38,0)) AS BIGINT)")
                .alias("share_bp"))


def users_event_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite degree histogram: how many users touch exactly k
    event types — two map-side-combinable aggregations + a broadcast
    scalar share."""
    ev = _t(spark, sf_dir, "events")
    deg = ev.groupBy("user_id").agg(
        F.countDistinct("event_type").alias("degree"))
    counts = deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_users"))
    from docetl_spark.functions.stats import broadcast_scalar_join

    tot = counts.agg(F.sum("n_users").alias("_t"))
    return broadcast_scalar_join(counts, tot, df_col="n_users", scalar_col="_t") \
        .select("degree", "n_users",
                F.expr("CAST(CAST(n_users AS DECIMAL(38,0)) * 10000"
                       " DIV CAST(_t AS DECIMAL(38,0)) AS BIGINT)")
                .alias("share_bp"))


def events_stream_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SMA-crossover twin (streaming.sma_crossover_stateful):
    O(long_n) state per user, append-mode signal emission; an in-order
    drain replays the batch op bit-for-bit (same cents rounding, same
    cross-multiplied comparison) — oracle = the batch SQL."""
    from docetl_spark.streaming import events as stream_ops

    ev = stream_ops.read_events_stream(spark, f"{sf_dir}/events.parquet")
    out = stream_ops.sma_crossover_stateful(
        ev.select("user_id", "ts", "event_id", "value"),
        short_n=3, long_n=7,
    )
    rows = stream_ops.run_available_now(
        out,
        checkpoint=stream_ops.scratch_checkpoint_dir("ckpt_smx_"),
        output_mode="append", shuffle_partitions=stream_ops.adaptive_state_partitions(spark, f"{sf_dir}/events.parquet"),
    )
    return stream_ops.drained_df(
        spark, rows,
        "user_id long, ts long, direction string, short_sum_cents long,"
        " long_sum_cents long, short_mean_cents long, long_mean_cents long",
    )


def events_kruskal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H of event value across event types
    (mlstats.kruskal_wallis_by): exact integer 2-midranks through the
    distributed prefix-sum collapse, per-level micro terms floored in
    DECIMAL (never Spark's BIGINT-typed div — the r11 overflow
    lesson), tie-corrected H in bp from one integral division."""
    from docetl_spark.functions.mlstats import kruskal_wallis_by

    ev = _t(spark, sf_dir, "events")
    return kruskal_wallis_by(ev, "value", "event_type")


def events_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between event type and day-of-week
    (mlstats.mutual_info_by): exact integer cell/marginal counts, each
    ln-term rounded to DECIMAL(28,12) before the order-independent sum
    — the psi/bm25 double discipline."""
    from docetl_spark.functions.mlstats import mutual_info_by

    ev = _t(spark, sf_dir, "events").withColumn("_e", _epoch_s("ts"))
    df = ev.select(
        "event_type",
        F.expr("((_e - pmod(_e, 86400)) DIV 86400) % 7").alias("dow"))
    return mutual_info_by(df, "event_type", "dow")


def orders_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F of order totalprice across order priorities
    (mlstats.anova_f_by): fixed-point cents, micro-floored level terms
    in DECIMAL, F and eta² each ONE integral division of exact
    integers."""
    from docetl_spark.functions.mlstats import anova_f_by

    orders = _t(spark, sf_dir, "orders")
    return anova_f_by(orders, "o_totalprice", "o_orderpriority")


def _order_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (pa < pb) part pairs per order, one row per (order,
    pair). r11 optimization (guide §2.4): the former distinct +
    self-join-on-order shape paid a (orderkey, partkey) distinct
    shuffle PLUS the join shuffle; collapsing each order to its sorted
    distinct part set is ONE map-side-combinable shuffle, and the pair
    expansion (bounded by items-per-order², ~4² in TPC-H) runs as a
    pure JVM higher-order function over the materialized array — the
    transform never re-derives its input (the CollapseProject hazard
    doesn't apply to a post-agg column). Same pair multiset: each
    order contributes each unordered pair at most once."""
    from docetl_spark.session import widen_scan

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey") \
        .filter(F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull())
    # r12 (guide §2.2/§6): the single-row-group scan is one task, which
    # serialized the partial collect_set AND the pair explosion; keyed
    # widening runs them at session width behind the same one exchange
    # the groupBy plans anyway (no-op on a many-split 100 TB scan)
    li = widen_scan(li, "l_orderkey")
    sets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("_ps"))
    return sets.select(
        "l_orderkey",
        F.explode(F.expr(
            "flatten(transform(_ps, (x, i) -> "
            "transform(slice(_ps, i + 2, size(_ps) - i - 1), "
            "y -> struct(x AS pa, y AS pb))))"
        )).alias("_pr"),
    ).select("l_orderkey", F.col("_pr.pa").alias("pa"), F.col("_pr.pb").alias("pb"))


def _part_coorder_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part co-order graph: undirected edges between parts appearing in
    the same order — the co-occurrence graph construction of
    text.cooccurrence_stats, at the lineitem grain. Per-order sorted
    part sets + JVM pair explosion (bounded by items-per-order, ~4 in
    TPC-H — never a hub blowup), canonical (lo, hi) distinct."""
    return _order_part_pairs(spark, sf_dir).select("pa", "pb").distinct()


def part_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation + clustering coefficient on the
    part co-order graph (graphs.triangle_count): degree-ordered
    orientation (Suri-Vassilvitskii) bounds wedge work at O(m^1.5)
    regardless of degree skew; each triangle counted once at its
    order-minimal corner; cc_bp one integral division."""
    from docetl_spark.functions.graphs import triangle_count

    e = _part_coorder_edges(spark, sf_dir)
    return triangle_count(e, "pa", "pb", assume_canonical=True).select(
        F.col("node").alias("part"), "degree", "triangles", "cc_bp")


def part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-2-iteration PageRank over the (mirrored) part co-order
    graph (graphs.pagerank): integer rank mass 10¹², every division an
    integral DIV both engines floor identically, dangling/floored mass
    documented-lost — bit-replayable influence scores."""
    from docetl_spark.functions.graphs import pagerank

    e = _part_coorder_edges(spark, sf_dir)
    return pagerank(e, "pa", "pb", iters=2, damping_bp=8500,
                    directed=False, dedup=False).select(
        F.col("node").alias("part"), "rank_e12")


def _part_support_edges(spark: SparkSession, sf_dir: str,
                        min_support: int) -> DataFrame:
    """Support-thresholded part co-order edges (the basket_pairs
    sparsification idiom): parts co-occurring in ≥ min_support distinct
    orders — how near-dup edge verification prunes a candidate graph
    before clustering."""
    # each order contributes a pair at most once (per-order distinct
    # part sets), so support = a plain count — the former
    # countDistinct(order) two-phase expansion is unnecessary
    return (
        _order_part_pairs(spark, sf_dir)
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= int(min_support))
        .select("pa", "pb")
    )


def part_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the support-≥3 part co-order graph
    (graphs.graph_components — the fuzzy-dedup CC machinery as a
    public graph verb). Oracle: DuckDB recursive-CTE min-label
    closure."""
    from docetl_spark.functions.graphs import graph_components

    e = _part_support_edges(spark, sf_dir, 3)
    return graph_components(e, "pa", "pb", assume_canonical=True).select(
        F.col("node").alias("part"), "component")


def part_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard similar part pairs on the support-≥2
    co-order graph (graphs.jaccard_neighbors): the structural MinHash
    analogue — parts similar because they co-occur with the same third
    parts. Every-pivot wedge counting under the deterministic hub cut,
    one integral division per pair."""
    from docetl_spark.functions.graphs import jaccard_neighbors

    e = _part_support_edges(spark, sf_dir, 2)
    return jaccard_neighbors(e, "pa", "pb", min_common=1,
                             assume_canonical=True).select(
        F.col("node_a").alias("part_a"), F.col("node_b").alias("part_b"),
        "common", "degree_a", "degree_b", "jaccard_bp")


def part_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised brand-label spreading over the support-≥2
    co-order graph (graphs.label_propagation): 5% of parts seed their
    p_brand, two synchronous rounds, most-frequent-neighbor-label with
    the smallest-label tie-break — the propagate-scarce-human-labels
    pattern, exactly replayable."""
    from docetl_spark.functions.graphs import label_propagation

    e = _part_support_edges(spark, sf_dir, 2)
    part = _t(spark, sf_dir, "part")
    seeds = part.filter(F.col("p_partkey") % 20 == 0).select(
        F.col("p_partkey").alias("node"), F.col("p_brand").alias("label"))
    return label_propagation(e, seeds, "pa", "pb", iters=2,
                             assume_canonical=True).select(
        F.col("node").alias("part"), "label", "is_seed")


def orders_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI of mean order value per priority
    (mlstats.bootstrap_ci): each row's replicate multiplicity is
    Poisson(1) from the md5 24-bit integer draw against integer CDF
    thresholds — the one resampling scheme that streams at 100 TB —
    replicate means exact integral DIVs, CI bounds exact order
    statistics with replicate-id tie-break. Fully replayable: no RNG
    state, no doubles."""
    from docetl_spark.functions.mlstats import bootstrap_ci

    orders = _t(spark, sf_dir, "orders")
    return bootstrap_ci(orders, "o_totalprice", id_col="o_orderkey",
                        by=["o_orderpriority"], n_boot=100, seed=42,
                        level_bp=9500)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    reg = {
        "q1_pricing_summary": q1_pricing_summary,
        "q3_top_orders": q3_top_orders,
        "q5_nation_revenue": q5_nation_revenue,
        "q6_revenue_delta": q6_revenue_delta,
        "code_filter_highvalue": code_filter_highvalue,
        "code_map_enrich": code_map_enrich,
        "code_reduce_nation": code_reduce_nation,
        "split_words": split_words,
        "split_grouped": split_grouped,
        "unnest_word_freq": unnest_word_freq,
        "gather_events": gather_events,
        "sample_first20": sample_first20,
        "sample_uniform_hash": sample_uniform_hash,
        "sample_stratified": sample_stratified,
        "topk_embedding": topk_embedding,
        "topk_fts": topk_fts,
        "dedup_exact": dedup_exact,
        "minhash_near_dup": minhash_near_dup,
        "text_stats": text_stats,
        "quality_filter_rules": quality_filter_rules,
        "sem_map_agent": sem_map_agent,
        "sem_map_sentiment": sem_map_sentiment,
        "sem_filter_mentions": sem_filter_mentions,
        "sem_reduce_lang": sem_reduce_lang,
        "ann_brute_force": ann_brute_force,
        "events_sessionize": events_sessionize,
        "events_user_stats": events_user_stats,
        "resolve_docs": resolve_docs,
        "resolve_limited_pairs": resolve_limited_pairs,
        "equijoin_part_supplier": equijoin_part_supplier,
        "equijoin_limited": equijoin_limited,
        "rank_likert_docs": rank_likert_docs,
        "rank_comparison": rank_comparison,
        "extract_regex_mentions": extract_regex_mentions,
        "link_resolve_langs": link_resolve_langs,
        "parallel_map_docs": parallel_map_docs,
        "unnest_columns_struct": unnest_columns_struct,
        "add_uuid_det": add_uuid_det,
        "split_tokens": split_tokens,
        "sample_outliers_emb": sample_outliers_emb,
        "embedding_near_dup": embedding_near_dup,
        "simhash_near_dup": simhash_near_dup,
        "split_gather_docs": split_gather_docs,
        "gather_headers": gather_headers,
        "sem_reduce_fold": sem_reduce_fold,
        "sem_filter_cascade": sem_filter_cascade,
        "sem_filter_cascade_calibrated": sem_filter_cascade_calibrated,
        "sample_custom_keys": sample_custom_keys,
        "sem_map_batch": sem_map_batch,
        "cluster_docs": cluster_docs,
        "cluster_docs_distributed": cluster_docs_distributed,
        "ann_ivf": ann_ivf,
        "ann_ivf_persisted": ann_ivf_persisted,
        "events_stream_rollup": events_stream_rollup,
        "events_stream_dedup": events_stream_dedup,
        "stream_dedup_corpus": stream_dedup_corpus,
        "events_stream_sessions": events_stream_sessions,
        "multimodal_image_meta": multimodal_image_meta,
        "multimodal_frame_sample": multimodal_frame_sample,
        "pack_sequences_docs": pack_sequences_docs,
        "contamination_check": contamination_check,
        "sample_temperature_mix": sample_temperature_mix,
        "ann_lsh": ann_lsh,
        "pii_redact_docs": pii_redact_docs,
        "repetition_stats_docs": repetition_stats_docs,
        "stream_decontaminate": stream_decontaminate,
        "stream_semantic_map": stream_semantic_map,
        "corpus_mixture_plan": corpus_mixture_plan,
        "corpus_mixture_docs": corpus_mixture_docs,
        "sem_reduce_salted": sem_reduce_salted,
        "ann_pq": ann_pq,
        "semdedup_embeddings": semdedup_embeddings,
        "rag_retrieve_context": rag_retrieve_context,
        "rag_retrieve_hybrid": rag_retrieve_hybrid,
        "passage_dedup_docs": passage_dedup_docs,
        "gram_fingerprint_dups": gram_fingerprint_dups,
        "dedup_incremental": dedup_incremental,
        "q4_priority_semijoin": q4_priority_semijoin,
        "customers_without_orders": customers_without_orders,
        "set_ops_nations": set_ops_nations,
        "fuzzy_dedup_corpus": fuzzy_dedup_corpus,
        "dsir_select_docs": dsir_select_docs,
        "vocab_top_terms": vocab_top_terms,
        "corpus_shard_manifest": corpus_shard_manifest,
        "lm_score_docs": lm_score_docs,
        "corpus_split_docs": corpus_split_docs,
        "corpus_profile": corpus_profile,
        "quality_model_score": quality_model_score,
        "q13_order_histogram": q13_order_histogram,
        "q19_disjunct_revenue": q19_disjunct_revenue,
        "events_asof_join": events_asof_join,
        "events_asof_join_bucketed": events_asof_join_bucketed,
        "events_stream_interval_join": events_stream_interval_join,
        "pack_documents_docs": pack_documents_docs,
        "events_range_join": events_range_join,
        "events_time_rollup": events_time_rollup,
        "events_sessionize_bucketed": events_sessionize_bucketed,
        "trim_repeated_lines_docs": trim_repeated_lines_docs,
        "substring_dedup_docs": substring_dedup_docs,
        "unimax_plan_docs": unimax_plan_docs,
        "unimax_apply_docs": unimax_apply_docs,
        "q17_small_quantity_revenue": q17_small_quantity_revenue,
        "q18_large_orders": q18_large_orders,
        "events_rolling_features": events_rolling_features,
        "events_rolling_features_bucketed": events_rolling_features_bucketed,
        "quality_top_quartile_docs": quality_top_quartile_docs,
        "cap_per_source_docs": cap_per_source_docs,
        "winnow_dup_pairs": winnow_dup_pairs,
        "sn_blocking_pairs": sn_blocking_pairs,
        "q7_nation_volume": q7_nation_volume,
        "q10_returned_revenue": q10_returned_revenue,
        "q22_idle_above_avg": q22_idle_above_avg,
        "events_stream_rolling": events_stream_rolling,
        "q2_min_cost_supplier": q2_min_cost_supplier,
        "q8_market_share": q8_market_share,
        "q9_product_profit": q9_product_profit,
        "q11_part_concentration": q11_part_concentration,
        "q12_priority_by_status": q12_priority_by_status,
        "q14_promo_share": q14_promo_share,
        "q15_top_supplier": q15_top_supplier,
        "q16_supplier_count": q16_supplier_count,
        "q20_heavy_shippers": q20_heavy_shippers,
        "q21_sole_returners": q21_sole_returners,
        "bm25_search_docs": bm25_search_docs,
        "corpus_split_exact": corpus_split_exact,
        "events_skew_profile": events_skew_profile,
        "corpus_length_quantiles": corpus_length_quantiles,
        "events_pivot_by_type": events_pivot_by_type,
        "events_funnel": events_funnel,
        "events_stream_funnel": events_stream_funnel,
        "events_hopping_rollup": events_hopping_rollup,
        "events_gap_fill": events_gap_fill,
        "events_time_weighted": events_time_weighted,
        "events_cohort_retention": events_cohort_retention,
        "docs_cooccurrence": docs_cooccurrence,
        "events_ewma_value": events_ewma_value,
        "events_snapshot_latest": events_snapshot_latest,
        "events_interval_join": events_interval_join,
        "events_stream_transitions": events_stream_transitions,
        "events_transitions": events_transitions,
        "docs_quantile_buckets": docs_quantile_buckets,
        "orders_salted_join": orders_salted_join,
        "docs_ngram_stats": docs_ngram_stats,
        "docs_readability": docs_readability,
        "events_scd2_type": events_scd2_type,
        "docs_winsorize_len": docs_winsorize_len,
        "events_stream_heavy_hitters": events_stream_heavy_hitters,
        "events_streaks": events_streaks,
        "events_attribution_last": events_attribution_last,
        "events_attribution_first": events_attribution_first,
        "events_heavy_hitters": events_heavy_hitters,
        "events_value_outliers": events_value_outliers,
        "events_json_props": events_json_props,
        "events_melt_pivot": events_melt_pivot,
        "orders_cube_status_priority": orders_cube_status_priority,
        "docs_tfdf_keywords": docs_tfdf_keywords,
        "docs_ngram_jaccard": docs_ngram_jaccard,
        "events_value_histogram": events_value_histogram,
        "events_mad_outliers": events_mad_outliers,
        "events_running_totals": events_running_totals,
        "orders_data_diff": orders_data_diff,
        "nation_supplier_concat": nation_supplier_concat,
        "events_time_profile": events_time_profile,
        "events_ewma_bucketed": events_ewma_bucketed,
        "docs_profile": docs_profile,
        "events_stream_histogram": events_stream_histogram,
        "events_stream_running_totals": events_stream_running_totals,
        "events_active_users": events_active_users,
        "docs_pps_sample": docs_pps_sample,
        "docs_percentile_normalize": docs_percentile_normalize,
        "events_merge_rollup": events_merge_rollup,
        "orders_apply_cdc": orders_apply_cdc,
        "events_state_durations": events_state_durations,
        "events_active_users_approx": events_active_users_approx,
        "events_debounce": events_debounce,
        "events_throttle": events_throttle,
        "orders_constraints": orders_constraints,
        "lineitem_fk_orphans": lineitem_fk_orphans,
        "docs_approx_quantiles": docs_approx_quantiles,
        "events_weighted_quantiles": events_weighted_quantiles,
        "events_trend_fit": events_trend_fit,
        "events_benford": events_benford,
        "events_interval_union": events_interval_union,
        "events_session_paths": events_session_paths,
        "events_autocorr": events_autocorr,
        "events_null_runs": events_null_runs,
        "events_cusum": events_cusum,
        "lineitem_basket_pairs": lineitem_basket_pairs,
        "events_audience_overlap": events_audience_overlap,
        "customer_rfm": customer_rfm,
        "part_fuzzy_names": part_fuzzy_names,
        "orders_gini": orders_gini,
        "events_seasonal_outliers": events_seasonal_outliers,
        "docs_blocker_metrics": docs_blocker_metrics,
        "events_cohort_values": events_cohort_values,
        "events_decade_histogram": events_decade_histogram,
        "events_session_quantiles": events_session_quantiles,
        "events_ab_test": events_ab_test,
        "events_funnel_windowed": events_funnel_windowed,
        "docs_collapse_rare": docs_collapse_rare,
        "events_target_encode": events_target_encode,
        "events_funnel_rates": events_funnel_rates,
        "events_stickiness": events_stickiness,
        "events_new_returning": events_new_returning,
        "events_gap_histogram": events_gap_histogram,
        "part_skyline": part_skyline,
        "events_pop": events_pop,
        "events_stream_cusum": events_stream_cusum,
        "orders_ship_latency": orders_ship_latency,
        "events_auc": events_auc,
        "events_chi2": events_chi2,
        "events_ks": events_ks,
        "orders_hhi": orders_hhi,
        "users_event_diversity": users_event_diversity,
        "events_mode_by": events_mode_by,
        "events_lift": events_lift,
        "docs_vocab_profile": docs_vocab_profile,
        "docs_dup_clusters": docs_dup_clusters,
        "events_bursts": events_bursts,
        "events_markov": events_markov,
        "orders_pareto": orders_pareto,
        "lineitem_r2": lineitem_r2,
        "events_trigrams": events_trigrams,
        "docs_zipf": docs_zipf,
        "lineitem_spearman": lineitem_spearman,
        "events_spearman_daily": events_spearman_daily,
        "orders_cramers": orders_cramers,
        "docs_impurity": docs_impurity,
        "events_drift": events_drift,
        "events_drift_detail": events_drift_detail,
        "orders_woe": orders_woe,
        "lineitem_trimmed_mean": lineitem_trimmed_mean,
        "events_mann_kendall": events_mann_kendall,
        "customer_survival": customer_survival,
        "events_changepoint": events_changepoint,
        "events_sma_crossover": events_sma_crossover,
        "events_runs": events_runs,
        "events_acf": events_acf,
        "events_session_bounce": events_session_bounce,
        "docs_vocab_growth": docs_vocab_growth,
        "docs_curriculum": docs_curriculum,
        "docs_curriculum_dense": docs_curriculum_dense,
        "events_value_ecdf": events_value_ecdf,
        "part_topk_ties": part_topk_ties,
        "orders_rollup_gid": orders_rollup_gid,
        "lineitem_kendall": lineitem_kendall,
        "events_theil_sen": events_theil_sen,
        "events_theil_sen_sampled": events_theil_sen_sampled,
        "events_conversion_latency": events_conversion_latency,
        "users_event_degree": users_event_degree,
        "events_stream_crossover": events_stream_crossover,
        "events_stream_drift": events_stream_drift,
        "events_kappa": events_kappa,
        "events_psi": events_psi,
        "docs_ngram_novelty": docs_ngram_novelty,
        "events_kruskal": events_kruskal,
        "events_mutual_info": events_mutual_info,
        "orders_anova": orders_anova,
        "part_triangles": part_triangles,
        "part_pagerank": part_pagerank,
        "part_components": part_components,
        "part_jaccard": part_jaccard,
        "part_label_prop": part_label_prop,
        "orders_bootstrap_ci": orders_bootstrap_ci,
    }
    # The driver's per-round correctness gate checks the FIRST 50 keys
    # (CORRECTNESS_r02-r05 == registry[:50] of each era), while the local
    # pytest gate (test_oracle_gate.py) replays the WHOLE registry.
    # Rotation policy, as code: every key the driver has NEVER verified
    # leads (so it lands inside the 50-key window this round), then a few
    # core anchors for round-over-round continuity, then everything else
    # in original order. tests/test_registry_rotation.py asserts the
    # window invariant so registry growth can't silently push a
    # never-verified query past position 50 again.
    # one anchor per operator family — round 10 rotated two slots
    # (events_sessionize -> events_stream_cusum, ann_brute_force ->
    # events_weighted_quantiles) toward the most regression-prone
    # families: streaming batch/stream twins and the `_global_cumsum`
    # distributed-prefix-sum consumers (VERDICT r9 ask #8). The rotated-
    # out keys stay in the cumulative ledger, so they remain verified.
    anchors = [
        "q1_pricing_summary", "sem_reduce_fold", "minhash_near_dup",
        "events_stream_cusum", "events_weighted_quantiles",
    ]
    # Driver-RED keys would lead the whole window (a key with a red row
    # needs a fresh driver verdict even more than a never-seen key does);
    # as of CORRECTNESS_r07 every registry key's latest driver row is
    # green, so the red set is empty and never-seen keys lead.
    red_first = [k for k in _DRIVER_RED if k in reg]
    driver_unseen = [
        k for k in reg if k not in _DRIVER_VERIFIED and k not in red_first
    ]
    lead = red_first + [k for k in driver_unseen if k not in anchors] + anchors
    return {k: reg[k] for k in lead} | {k: v for k, v in reg.items() if k not in lead}


# the 50-key set the driver verified in rounds 2-4 (== CORRECTNESS_r04 keys)
_DRIVER_VERIFIED_R2_R4 = frozenset({
    "add_uuid_det", "ann_brute_force", "cluster_docs",
    "cluster_docs_distributed", "code_filter_highvalue", "code_map_enrich",
    "code_reduce_nation", "dedup_exact", "embedding_near_dup",
    "equijoin_limited", "equijoin_part_supplier", "events_sessionize",
    "events_user_stats", "extract_regex_mentions", "gather_events",
    "gather_headers", "link_resolve_langs", "minhash_near_dup",
    "parallel_map_docs", "q1_pricing_summary", "q3_top_orders",
    "q5_nation_revenue", "q6_revenue_delta", "quality_filter_rules",
    "rank_comparison", "rank_likert_docs", "resolve_docs",
    "sample_custom_keys", "sample_first20", "sample_outliers_emb",
    "sample_stratified", "sample_uniform_hash", "sem_filter_cascade",
    "sem_filter_cascade_calibrated", "sem_filter_mentions", "sem_map_agent",
    "sem_map_batch", "sem_map_sentiment", "sem_reduce_fold",
    "sem_reduce_lang", "simhash_near_dup", "split_gather_docs",
    "split_grouped", "split_tokens", "split_words",
    "text_stats", "topk_embedding", "topk_fts",
    "unnest_columns_struct", "unnest_word_freq",
})

# the 50-key set the driver verified in round 5 (== CORRECTNESS_r05 keys)
_DRIVER_VERIFIED_R5 = frozenset({
    "q1_pricing_summary", "sem_map_sentiment", "sem_reduce_fold", "resolve_docs",
    "equijoin_part_supplier", "minhash_near_dup", "split_gather_docs", "events_sessionize",
    "ann_brute_force", "ann_ivf", "events_stream_rollup", "events_stream_dedup",
    "stream_dedup_corpus", "events_stream_sessions", "multimodal_image_meta", "multimodal_frame_sample",
    "pack_sequences_docs", "contamination_check", "sample_temperature_mix", "ann_lsh",
    "pii_redact_docs", "repetition_stats_docs", "stream_decontaminate", "stream_semantic_map",
    "corpus_mixture_plan", "corpus_mixture_docs", "sem_reduce_salted", "ann_pq",
    "semdedup_embeddings", "rag_retrieve_context", "passage_dedup_docs", "gram_fingerprint_dups",
    "dedup_incremental", "q4_priority_semijoin", "customers_without_orders", "set_ops_nations",
    "fuzzy_dedup_corpus", "dsir_select_docs", "vocab_top_terms", "corpus_shard_manifest",
    "lm_score_docs", "corpus_split_docs", "corpus_profile", "quality_model_score",
    "q13_order_histogram", "q19_disjunct_revenue", "events_asof_join", "events_asof_join_bucketed",
    "events_stream_interval_join", "pack_documents_docs",
})

# the 43 keys the driver verified green in round 6 (== CORRECTNESS_r06
# rows with hash_match true)
_DRIVER_VERIFIED_R6 = frozenset({
    "ann_brute_force", "bm25_search_docs", "cap_per_source_docs",
    "corpus_length_quantiles", "corpus_split_exact", "docs_cooccurrence",
    "equijoin_part_supplier", "events_cohort_retention", "events_funnel",
    "events_gap_fill", "events_range_join", "events_sessionize",
    "events_sessionize_bucketed", "events_stream_funnel", "events_time_rollup",
    "events_time_weighted", "minhash_near_dup", "q10_returned_revenue",
    "q11_part_concentration", "q14_promo_share", "q15_top_supplier",
    "q16_supplier_count", "q17_small_quantity_revenue", "q18_large_orders",
    "q1_pricing_summary", "q20_heavy_shippers", "q21_sole_returners",
    "q22_idle_above_avg", "q2_min_cost_supplier", "q7_nation_volume",
    "q8_market_share", "q9_product_profit", "quality_top_quartile_docs",
    "resolve_docs", "sem_map_sentiment", "sem_reduce_fold", "sn_blocking_pairs",
    "split_gather_docs", "substring_dedup_docs", "trim_repeated_lines_docs",
    "unimax_apply_docs", "unimax_plan_docs", "winnow_dup_pairs",
})

# the 50-key set the driver verified green in round 7 (== CORRECTNESS_r07;
# all 50 rows green — including the 7 round-6 reds, confirming the
# HUGEINT-oracle-typing and Arrow-conf root causes fixed that round).
_DRIVER_VERIFIED_R7 = frozenset({
    "ann_brute_force", "code_filter_highvalue", "code_map_enrich", "code_reduce_nation",
    "docs_ngram_jaccard", "docs_ngram_stats", "docs_quantile_buckets", "docs_readability",
    "docs_tfdf_keywords", "docs_winsorize_len", "equijoin_part_supplier",
    "events_attribution_first", "events_attribution_last", "events_ewma_value",
    "events_heavy_hitters", "events_hopping_rollup", "events_interval_join",
    "events_json_props", "events_melt_pivot", "events_pivot_by_type", "events_rolling_features",
    "events_rolling_features_bucketed", "events_scd2_type", "events_sessionize",
    "events_skew_profile", "events_snapshot_latest", "events_streaks", "events_stream_heavy_hitters",
    "events_stream_rolling", "events_stream_transitions", "events_transitions",
    "events_value_outliers", "gather_events", "minhash_near_dup", "orders_cube_status_priority",
    "orders_salted_join", "q12_priority_by_status", "q1_pricing_summary",
    "q3_top_orders", "q5_nation_revenue", "q6_revenue_delta", "resolve_docs",
    "sample_first20", "sample_uniform_hash", "sem_map_sentiment", "sem_reduce_fold",
    "split_gather_docs", "split_grouped", "split_words", "unnest_word_freq",
})

# the 48 keys the driver verified green in round 8 (== CORRECTNESS_r08
# rows with hash_match true; the window's other 2 rows are the declared
# ORACLE_EXEMPT sketches — docs_approx_quantiles and
# events_active_users_approx — whose `err: no_oracle` is by design, each
# pinned by an error-bound test in tests/test_sketch_modes.py).
_DRIVER_VERIFIED_R8 = frozenset({
    "ann_brute_force", "code_filter_highvalue", "code_map_enrich",
    "code_reduce_nation", "dedup_exact", "docs_percentile_normalize",
    "docs_pps_sample", "docs_profile", "equijoin_part_supplier",
    "events_active_users", "events_debounce", "events_ewma_bucketed",
    "events_mad_outliers", "events_merge_rollup", "events_running_totals",
    "events_sessionize", "events_state_durations", "events_stream_histogram",
    "events_stream_running_totals", "events_throttle", "events_time_profile",
    "events_value_histogram", "gather_events", "lineitem_fk_orphans",
    "minhash_near_dup", "nation_supplier_concat", "orders_apply_cdc",
    "orders_constraints", "orders_data_diff", "q1_pricing_summary",
    "q3_top_orders", "q5_nation_revenue", "q6_revenue_delta",
    "quality_filter_rules", "resolve_docs", "sample_first20",
    "sample_stratified", "sample_uniform_hash", "sem_map_agent",
    "sem_map_sentiment", "sem_reduce_fold", "split_gather_docs",
    "split_grouped", "split_words", "text_stats", "topk_embedding",
    "topk_fts", "unnest_word_freq",
})

# the 50-key set the driver verified green in round 9 (== CORRECTNESS_r09;
# all 50 rows rows+schema+hash green — the 45 wave-2/3 analytics keys plus
# the 5 anchors of that era). Folding them here frees the rotation window
# for round-10 additions (VERDICT r9 ask #1).
_DRIVER_VERIFIED_R9 = frozenset({
    "ann_brute_force", "customer_rfm", "docs_blocker_metrics",
    "docs_collapse_rare", "docs_dup_clusters", "docs_vocab_profile",
    "docs_zipf", "events_ab_test", "events_auc", "events_audience_overlap",
    "events_autocorr", "events_benford", "events_bursts", "events_chi2",
    "events_cohort_values", "events_cusum", "events_decade_histogram",
    "events_funnel_rates", "events_funnel_windowed", "events_gap_histogram",
    "events_interval_union", "events_ks", "events_lift", "events_markov",
    "events_mode_by", "events_new_returning", "events_null_runs",
    "events_pop", "events_seasonal_outliers", "events_session_paths",
    "events_session_quantiles", "events_sessionize", "events_stickiness",
    "events_stream_cusum", "events_target_encode", "events_trend_fit",
    "events_trigrams", "events_weighted_quantiles", "lineitem_basket_pairs",
    "lineitem_r2", "minhash_near_dup", "orders_gini", "orders_hhi",
    "orders_pareto", "orders_ship_latency", "part_fuzzy_names",
    "part_skyline", "q1_pricing_summary", "sem_reduce_fold",
    "users_event_diversity",
})

# the 50-key set the driver verified green in round 10 (== CORRECTNESS_r10;
# all 50 rows rows+schema+hash green — the 25 r10 analytics/streaming keys,
# the 5 anchors of that era, and 20 cumulative-ledger keys). Folding them
# frees the rotation window for round-11 additions.
_DRIVER_VERIFIED_R10 = frozenset({
    "code_filter_highvalue", "code_map_enrich", "code_reduce_nation",
    "customer_survival", "dedup_exact", "docs_curriculum", "docs_impurity",
    "docs_vocab_growth", "events_acf", "events_changepoint",
    "events_conversion_latency", "events_drift", "events_drift_detail",
    "events_mann_kendall", "events_runs", "events_session_bounce",
    "events_sma_crossover", "events_spearman_daily", "events_stream_crossover",
    "events_stream_cusum", "events_theil_sen", "events_value_ecdf",
    "events_weighted_quantiles", "gather_events", "lineitem_kendall",
    "lineitem_spearman", "lineitem_trimmed_mean", "minhash_near_dup",
    "orders_cramers", "orders_rollup_gid", "orders_woe", "part_topk_ties",
    "q1_pricing_summary", "q3_top_orders", "q5_nation_revenue",
    "q6_revenue_delta", "quality_filter_rules", "sample_first20",
    "sample_stratified", "sample_uniform_hash", "sem_map_agent",
    "sem_map_sentiment", "sem_reduce_fold", "split_grouped", "split_words",
    "text_stats", "topk_embedding", "topk_fts", "unnest_word_freq",
    "users_event_degree",
})

# keys whose LATEST driver row is red — empty since round 7 (the r6 reds
# all came back green in CORRECTNESS_r07).
_DRIVER_RED: tuple[str, ...] = ()

# The two ORACLE_EXEMPT sketches are deliberately *not* in the verified
# ledger (their driver rows can never be hash-green); keeping them out
# would make them lead the window forever, so they are treated as seen:
_SKETCH_EXEMPT_SEEN = frozenset({
    "docs_approx_quantiles", "events_active_users_approx",
})

# union ledger: everything with at least one driver-green CORRECTNESS row
_DRIVER_VERIFIED = (
    _DRIVER_VERIFIED_R2_R4 | _DRIVER_VERIFIED_R5 | _DRIVER_VERIFIED_R6
    | _DRIVER_VERIFIED_R7 | _DRIVER_VERIFIED_R8 | _DRIVER_VERIFIED_R9
    | _DRIVER_VERIFIED_R10 | _SKETCH_EXEMPT_SEEN
)


def oracle_sql() -> dict[str, str]:
    one = "CAST(1 AS DECIMAL(18,4))"
    rev = f"CAST(l_extendedprice AS DECIMAL(18,4)) * ({one} - CAST(l_discount AS DECIMAL(18,4)))"
    fts_tok = (
        "list_filter(string_split(trim(regexp_replace(regexp_replace(lower({c}), '[^a-z0-9\\s]', ' ', 'g'),"
        " '\\s+', ' ', 'g')), ' '), x -> x <> '')"
    )
    norm_tok = (
        "list_filter(list_transform(string_split_regex(trim(lower({c})), '\\s+'),"
        " t -> regexp_replace(t, '[^a-z0-9]', '', 'g')), t -> t <> '')"
    )
    _qm_weights: dict[int, float] = {}
    for _word, _wt in _QM_WORDS.items():
        _b = _qm_bucket(_word)
        _qm_weights[_b] = _qm_weights.get(_b, 0.0) + _wt
    qm_values = ", ".join(f"({b}, {w})" for b, w in sorted(_qm_weights.items()))
    shingles3 = (
        f"list_distinct(CASE WHEN len({norm_tok.format(c='text')}) >= 3 THEN "
        f"list_transform(range(1, len({norm_tok.format(c='text')}) - 1), "
        f"i -> array_to_string(list_slice({norm_tok.format(c='text')}, i, i + 2), ' ')) "
        f"WHEN len({norm_tok.format(c='text')}) > 0 THEN [array_to_string({norm_tok.format(c='text')}, ' ')] "
        f"ELSE [] END)"
    )
    sql = {
        "q1_pricing_summary": f"""
            -- decimal->double via VARCHAR: DuckDB's direct DECIMAL cast
            -- double-rounds (hugeint->double, then /10^scale) and lands
            -- 1 ulp off Spark's correctly-rounded BigDecimal cast once
            -- the scaled sum exceeds 2^53 (sf0.1 full-lineitem sums do;
            -- string->double parse is correctly rounded in both)
            SELECT l_returnflag, l_linestatus,
                   CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
                   CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
                   CAST(CAST(SUM({rev}) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
                   COUNT(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus""",
        "q3_top_orders": f"""
            SELECT l_orderkey, o_orderpriority,
                   CAST(CAST(SUM({rev}) AS VARCHAR) AS DOUBLE) AS revenue,
                   strftime(MIN(o_orderdate), '%Y-%m-%d') AS o_orderdate_s
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                 JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
              AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY l_orderkey, o_orderpriority
            ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""",
        "q5_nation_revenue": f"""
            SELECT n_name, CAST(CAST(SUM({rev}) AS VARCHAR) AS DOUBLE) AS revenue,
                   COUNT(DISTINCT l_orderkey) AS n_orders
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                 JOIN customer ON o_custkey = c_custkey
                 JOIN nation ON c_nationkey = n_nationkey
                 JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
            GROUP BY n_name""",
        "q6_revenue_delta": """
            SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS revenue,
                   COUNT(*) AS n
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
              AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""",
        "code_filter_highvalue": """
            SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            WHERE o_totalprice > 300000 AND o_orderstatus = 'O'""",
        "code_map_enrich": """
            SELECT l_orderkey, l_linenumber,
                   CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT) AS revenue_cents,
                   l_quantity >= 30.0 AS high_qty
            FROM lineitem""",
        "code_reduce_nation": """
            SELECT c_nationkey,
                   COUNT(*) AS n_customers,
                   CAST(SUM(CAST(ROUND(c_acctbal * 100.0) AS BIGINT)) AS BIGINT) AS acctbal_cents,
                   MAX(CAST(ROUND(c_acctbal * 100.0) AS BIGINT)) AS max_cents,
                   MIN(CAST(ROUND(c_acctbal * 100.0) AS BIGINT)) AS min_cents,
                   COUNT(*) AS _counts_prereduce_natstats
            FROM customer GROUP BY c_nationkey""",
        "split_words": """
            WITH parts AS (
              SELECT doc_id, list_filter(string_split(text, ' '), x -> trim(x) <> '') AS p FROM documents
            )
            SELECT doc_id, trim(unnest(p)) AS text_chunk,
                   CAST(generate_subscripts(p, 1) AS BIGINT) AS split_chunk_num
            FROM parts""",
        "split_grouped": """
            WITH parts AS (
              SELECT doc_id, list_filter(string_split(text, ' '), x -> trim(x) <> '') AS p FROM documents
            ), idx AS (
              SELECT doc_id, p, CAST(unnest(range(1, CAST(ceil(len(p) / 10.0) AS BIGINT) + 1)) AS BIGINT) AS split_chunk_num
              FROM parts WHERE len(p) > 0
            )
            SELECT doc_id,
                   trim(array_to_string(p[(split_chunk_num-1)*10 + 1 : least(split_chunk_num*10, len(p))], ' ')) AS text_chunk,
                   split_chunk_num
            FROM idx""",
        "unnest_word_freq": """
            SELECT word, COUNT(*) AS freq FROM (
              SELECT unnest(string_split(text, ' ')) AS word FROM documents
            ) GROUP BY word HAVING COUNT(*) >= 100""",
        "gather_events": """
            WITH chunks AS (
              SELECT user_id, event_type,
                     CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn
              FROM events
            ), ctx AS (
              SELECT user_id, rn, event_type,
                     LAG(event_type) OVER w AS prev_c,
                     LEAD(event_type) OVER w AS next_c,
                     SUM(length(event_type)) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING) AS skip_prev,
                     SUM(length(event_type)) OVER (w ROWS BETWEEN 2 FOLLOWING AND UNBOUNDED FOLLOWING) AS skip_next
              FROM chunks WINDOW w AS (PARTITION BY user_id ORDER BY rn)
            )
            SELECT user_id, rn,
                   concat_ws(chr(10),
                     '--- Previous Context ---',
                     CASE WHEN skip_prev IS NOT NULL THEN '[... ' || skip_prev || ' characters skipped ...]' END,
                     CASE WHEN prev_c IS NOT NULL THEN '[Chunk ' || (rn-1) || ']' || chr(10) || prev_c END,
                     '--- End Previous Context ---' || chr(10),
                     '--- Begin Main Chunk ---', event_type, '--- End Main Chunk ---',
                     chr(10) || '--- Next Context ---',
                     CASE WHEN next_c IS NOT NULL THEN '[Chunk ' || (rn+1) || ']' || chr(10) || next_c END,
                     CASE WHEN skip_next IS NOT NULL THEN '[... ' || skip_next || ' characters skipped ...]' END,
                     '--- End Next Context ---') AS event_type_rendered
            FROM ctx""",
        "sample_first20": """
            SELECT o_orderkey, o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_s
            FROM orders ORDER BY o_orderdate, o_orderkey LIMIT 20""",
        "sample_uniform_hash": """
            SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
            WHERE substring(md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)), 1, 1) < '2'""",
        "sample_stratified": """
            SELECT l_returnflag, l_orderkey, l_linenumber FROM lineitem
            QUALIFY ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_orderkey, l_linenumber) <= 5""",
        "topk_embedding": f"""
            WITH q AS (SELECT {_QUERY_VEC} AS qv),
            scored AS (
              SELECT vec_id,
                     ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), qv)
                       / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                          * sqrt(list_dot_product(qv, qv))), 4) AS score
              FROM embeddings, q
            )
            SELECT vec_id, score,
                   CAST(ROW_NUMBER() OVER (ORDER BY score DESC, vec_id ASC) AS BIGINT) AS rank
            FROM scored ORDER BY score DESC, vec_id ASC LIMIT 20""",
        "topk_fts": f"""
            WITH docs AS (
              SELECT doc_id, {fts_tok.format(c='text')} AS toks FROM documents
            ), stats AS (
              SELECT COUNT(*) AS n, AVG(len(toks)) AS avgdl FROM docs
            ), doc_terms AS (
              SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM docs
            ), tf AS (
              SELECT doc_id, term, dl, COUNT(*) AS tf FROM doc_terms GROUP BY doc_id, term, dl
            ), vidf AS (
              SELECT term, ln((SELECT n FROM stats) - COUNT(DISTINCT doc_id) + 0.5) - ln(COUNT(DISTINCT doc_id) + 0.5) AS idf
              FROM doc_terms GROUP BY term
            ), widf AS (
              SELECT v.term,
                     CASE WHEN v.idf >= 0 THEN v.idf ELSE 0.25 * (SELECT SUM(idf)/COUNT(*) FROM vidf) END AS w
              FROM vidf v WHERE v.term IN ('spark', 'join', 'merge', 'window')
            ), scores AS (
              SELECT tf.doc_id,
                     SUM(widf.w * (tf.tf * (1.5 + 1)) / (tf.tf + 1.5 * (1 - 0.75 + 0.75 * tf.dl / (SELECT avgdl FROM stats)))) AS sc
              FROM tf JOIN widf ON tf.term = widf.term GROUP BY tf.doc_id
            ), all_scored AS (
              SELECT d.doc_id, ROUND(COALESCE(s.sc, 0.0), 4) AS score
              FROM documents d LEFT JOIN scores s ON d.doc_id = s.doc_id
            )
            SELECT doc_id, score, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
            FROM all_scored ORDER BY score DESC, doc_id ASC LIMIT 20""",
        "dedup_exact": """
            WITH variants AS (
              SELECT doc_id, text, 0 AS variant FROM documents
              UNION ALL
              SELECT doc_id, upper(text), 1 FROM documents
            ), fp AS (
              SELECT doc_id, variant, text,
                     md5(array_to_string(list_filter(list_transform(
                       string_split_regex(trim(lower(text)), '\\s+'),
                       t -> regexp_replace(t, '[^a-z0-9]', '', 'g')), t -> t <> ''), ' ')) AS f
              FROM variants
            )
            SELECT doc_id, variant, text FROM fp
            QUALIFY ROW_NUMBER() OVER (PARTITION BY f ORDER BY variant, doc_id) = 1""",
        "minhash_near_dup": f"""
            WITH sh AS (SELECT doc_id, {shingles3} AS s FROM documents),
            pairs AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM (SELECT doc_id, unnest(s) AS g FROM sh) a
              JOIN (SELECT doc_id, unnest(s) AS g FROM sh) b
                ON a.g = b.g AND a.doc_id < b.doc_id
            )
            SELECT id_a, id_b,
                   ROUND(len(list_intersect(x.s, y.s))::DOUBLE / len(list_distinct(list_concat(x.s, y.s))), 4) AS jaccard
            FROM pairs JOIN sh x ON pairs.id_a = x.doc_id JOIN sh y ON pairs.id_b = y.doc_id
            WHERE len(list_intersect(x.s, y.s))::DOUBLE / len(list_distinct(list_concat(x.s, y.s))) >= 0.8""",
        # SimHash: token hash = low 8 bytes of md5 (hex chars 17..32),
        # bit j (MSB-first) votes +1/-1 per token; fingerprint bit = vote>0.
        # Signed int64 built via 1<<w for w<63 and -2^63 for the sign bit.
        "simhash_near_dup": """
            WITH toks AS (
              SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> trim(x) <> '')) AS tok
              FROM documents
            ),
            nib AS (
              SELECT doc_id, p.p AS p, ('0x' || substr(md5(tok), 16 + p.p, 1))::INT AS nibble
              FROM toks, (SELECT unnest(range(1, 17)) AS p) p
            ),
            votes AS (
              SELECT doc_id, (16 - p) * 4 + k.k AS w,
                     SUM(2 * ((nibble >> k.k) & 1) - 1) AS vote
              FROM nib, (SELECT unnest(range(0, 4)) AS k) k
              GROUP BY doc_id, (16 - p) * 4 + k.k
            ),
            fp AS (
              SELECT d.doc_id,
                     COALESCE(CAST(SUM(CASE WHEN v.vote > 0 THEN
                         CASE WHEN v.w = 63 THEN -9223372036854775808
                              ELSE (1::BIGINT << v.w) END
                       ELSE 0 END) AS BIGINT), 0) AS sh
              FROM documents d LEFT JOIN votes v ON d.doc_id = v.doc_id
              GROUP BY d.doc_id
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
            FROM fp a JOIN fp b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sh, b.sh)) <= 3""",
        "sem_map_agent": """
            SELECT doc_id,
                   CASE WHEN len(string_split_regex(trim(text), '\\s+')) > 55
                        THEN 'long' ELSE 'short' END AS length_bucket
            FROM documents""",
        "quality_filter_rules": """
            WITH t AS (
              SELECT doc_id,
                     CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(text), '\\s+') END AS toks,
                     len(list_filter(string_split_regex(text, '[.!?]'), s -> trim(s) <> '')) AS sentences
              FROM documents
            ), f AS (
              SELECT doc_id,
                     len(toks)::DOUBLE AS n,
                     CASE WHEN len(toks) > 0 THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks) ELSE 0.0 END AS mean_len,
                     CASE WHEN len(toks) > 0 THEN len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE / len(toks) ELSE 0.0 END AS alpha_ratio,
                     sentences
              FROM t
            )
            SELECT doc_id,
                   (n >= 50 AND n <= 100000) AS word_count_ok,
                   (mean_len >= 3.0 AND mean_len <= 10.0) AS mean_word_len_ok,
                   (alpha_ratio >= 0.80) AS alpha_word_ratio_ok,
                   (sentences >= 1) AS sentence_count_ok,
                   ((n >= 50 AND n <= 100000) AND (mean_len >= 3.0 AND mean_len <= 10.0)
                    AND (alpha_ratio >= 0.80) AND (sentences >= 1)) AS passes
            FROM f""",
        "text_stats": f"""
            WITH t AS (
              SELECT doc_id, text,
                     CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(text), '\\s+') END AS toks,
                     {norm_tok.format(c='text')} AS ntoks
              FROM documents
            ), feats AS (
              SELECT doc_id, text, toks, ntoks,
                     CAST(len(toks) AS BIGINT) AS n_tokens,
                     CASE WHEN len(toks) > 0 THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks) ELSE 0.0 END AS atl,
                     CASE WHEN length(text) > 0 THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE / length(text) ELSE 0.0 END AS punct,
                     CASE WHEN length(text) > 0 THEN (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE / length(text) ELSE 0.0 END AS digit,
                     CASE WHEN len(ntoks) > 0 THEN len(list_filter(ntoks, x -> list_contains(['the','and','of','to','a','in','is','that','it','for'], x)))::DOUBLE / len(ntoks) ELSE 0.0 END AS stopr
              FROM t
            )
            SELECT doc_id, n_tokens, ROUND(atl, 6) AS avg_tok_len,
                   ROUND(0.4 * least(n_tokens / 100.0, 1.0)
                       + 0.2 * least(stopr * 4.0, 1.0)
                       + 0.2 * (CASE WHEN atl >= 3.0 AND atl <= 10.0 THEN 1.0 ELSE 0.5 END)
                       + 0.2 * (1.0 - least(punct * 2.0 + digit, 1.0)), 6) AS quality,
                   CASE
                     WHEN len(list_filter(ntoks, x -> list_contains(['the','and','of','to','a','in','is','that','it','for'], x))) >= greatest(
                          len(list_filter(ntoks, x -> list_contains(['der','die','und','das','ist','nicht','ein','mit','ich','auf'], x))),
                          len(list_filter(ntoks, x -> list_contains(['le','la','et','les','des','est','une','dans','que','pour'], x))),
                          len(list_filter(ntoks, x -> list_contains(['el','la','que','de','los','una','es','por','con','para'], x))), 1)
                       THEN 'en'
                     WHEN len(list_filter(ntoks, x -> list_contains(['der','die','und','das','ist','nicht','ein','mit','ich','auf'], x))) >= greatest(
                          len(list_filter(ntoks, x -> list_contains(['le','la','et','les','des','est','une','dans','que','pour'], x))),
                          len(list_filter(ntoks, x -> list_contains(['el','la','que','de','los','una','es','por','con','para'], x))), 1)
                       THEN 'de'
                     WHEN len(list_filter(ntoks, x -> list_contains(['le','la','et','les','des','est','une','dans','que','pour'], x))) >= greatest(
                          len(list_filter(ntoks, x -> list_contains(['el','la','que','de','los','una','es','por','con','para'], x))), 1)
                       THEN 'fr'
                     WHEN len(list_filter(ntoks, x -> list_contains(['el','la','que','de','los','una','es','por','con','para'], x))) >= 1
                       THEN 'es'
                     ELSE 'und' END AS lang_guess,
                   md5(array_to_string(ntoks, ' ')) AS fp
            FROM feats""",
        "sem_map_sentiment": """
            SELECT doc_id,
                   CASE WHEN text LIKE '%fast%' THEN 'positive'
                        WHEN text LIKE '%slow%' THEN 'negative'
                        ELSE 'neutral' END AS sentiment
            FROM documents""",
        "sem_filter_mentions": """
            SELECT doc_id, lang FROM documents WHERE text LIKE '%join%'""",
        "sem_reduce_lang": """
            SELECT lang, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc, COUNT(*) AS group_size
            FROM documents GROUP BY lang""",
        "ann_brute_force": """
            WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 5),
            scored AS (
              SELECT q.query_id, e.vec_id,
                     ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
                       / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                          * sqrt(list_dot_product(q.qv, q.qv))), 4) AS score
              FROM embeddings e, q
            )
            SELECT query_id, vec_id, score,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS BIGINT) AS rank
            FROM scored QUALIFY rank <= 10""",
        # ann_ivf_persisted reloads the saved artifact and probes all
        # lists -> exact; identical brute-force oracle as ann_ivf
        "ann_ivf_persisted": """
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
            scored AS (
              SELECT e.vec_id,
                     ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
                       / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                          * sqrt(list_dot_product(q.qv, q.qv))), 4) AS score
              FROM embeddings e, q
            )
            SELECT vec_id, score,
                   CAST(ROW_NUMBER() OVER (ORDER BY score DESC, vec_id ASC) AS BIGINT) AS rank
            FROM scored ORDER BY score DESC, vec_id ASC LIMIT 10""",
        "ann_ivf": """
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
            scored AS (
              SELECT e.vec_id,
                     ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
                       / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                          * sqrt(list_dot_product(q.qv, q.qv))), 4) AS score
              FROM embeddings e, q
            )
            SELECT vec_id, score,
                   CAST(ROW_NUMBER() OVER (ORDER BY score DESC, vec_id ASC) AS BIGINT) AS rank
            FROM scored ORDER BY score DESC, vec_id ASC LIMIT 10""",
        "events_sessionize": """
            WITH g AS (
              SELECT user_id, event_id, epoch_ns(ts) AS ns, epoch_ns(ts) // 1000000000 AS e,
                     CASE WHEN LAG(epoch_ns(ts) // 1000000000) OVER w IS NULL
                          OR epoch_ns(ts) // 1000000000 - LAG(epoch_ns(ts) // 1000000000) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
              SELECT user_id, e,
                     CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ns, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
              FROM g
            )
            SELECT user_id, session_id, COUNT(*) AS n_events, MIN(e) AS start_epoch, MAX(e) AS end_epoch
            FROM s GROUP BY user_id, session_id""",
        "events_user_stats": """
            SELECT user_id, event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents,
                   MAX(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS max_cents
            FROM events GROUP BY user_id, event_type""",
        "resolve_docs": """
            SELECT doc_id, lang, MIN(doc_id) OVER (PARTITION BY lang) AS _cluster_id
            FROM documents""",
        # bucket row-cap (K=33: smallest K with K(K-1)/2 >= 500) by
        # md5('42|id') order, then the global cut by md5('42|a|b') with
        # id tiebreaks — both stages exactly as candidate_pairs documents
        "resolve_limited_pairs": """
            WITH base AS (
              SELECT doc_id, lower(CAST(lang AS VARCHAR)) AS b
              FROM documents WHERE lang IS NOT NULL
            ),
            capped AS (
              SELECT doc_id, b FROM (
                SELECT doc_id, b,
                       ROW_NUMBER() OVER (
                         PARTITION BY b
                         ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)), doc_id
                       ) AS rn
                FROM base)
              WHERE rn <= 33
            ),
            p AS (
              SELECT x.doc_id AS id_a, y.doc_id AS id_b
              FROM capped x JOIN capped y
                ON x.b = y.b AND x.doc_id < y.doc_id
            ),
            n AS (SELECT COUNT(*) AS cnt FROM p),
            r AS (
              SELECT id_a, id_b,
                     ROW_NUMBER() OVER (
                       ORDER BY md5('42|' || CAST(id_a AS VARCHAR) || '|' ||
                                    CAST(id_b AS VARCHAR)), id_a, id_b
                     ) AS rn
              FROM p
            )
            SELECT id_a, id_b FROM r, n WHERE n.cnt <= 500 OR rn <= 500""",
        "equijoin_part_supplier": """
            SELECT p_partkey, p_name, s_suppkey, s_name
            FROM part JOIN supplier ON p_partkey % 50 = s_suppkey % 50
            WHERE (p_partkey + s_suppkey) % 7 = 0
            QUALIFY ROW_NUMBER() OVER (PARTITION BY p_partkey ORDER BY s_suppkey) = 1""",
        # stratified length sampling: doc length counts STRING columns
        # only; supplier side is longer -> stratum key = s_suppkey; within
        # each stratum keep the longest parts (len desc, partkey asc);
        # quota = limit // n_groups (+1 for the first limit % n_groups
        # groups in key order). No limiting when pairs <= limit.
        "equijoin_limited": """
            WITH l AS (SELECT p_partkey, p_name, length(p_name) AS l_len FROM part),
            r AS (SELECT s_suppkey, s_name, length(s_name) AS r_len FROM supplier),
            p AS (SELECT p_partkey, p_name, l_len, s_suppkey, s_name, r_len
                  FROM l JOIN r ON p_partkey % 20 = s_suppkey % 20),
            st AS (SELECT COUNT(*) AS n, COUNT(DISTINCT s_suppkey) AS g FROM p),
            sel AS (
              SELECT p.*,
                     ROW_NUMBER() OVER (PARTITION BY s_suppkey ORDER BY l_len DESC, p_partkey) AS rn,
                     DENSE_RANK() OVER (ORDER BY s_suppkey) AS gidx
              FROM p
            ),
            kept AS (
              SELECT sel.* FROM sel, st
              WHERE st.n <= 1000
                 OR rn <= (1000 // st.g) + (CASE WHEN gidx <= (1000 % st.g) THEN 1 ELSE 0 END)
            )
            SELECT p_partkey, p_name, s_suppkey, s_name
            FROM kept WHERE (p_partkey + s_suppkey) % 3 = 0""",
        # comparison-QURK replay: bounded per-row candidate draws (md5 ->
        # batch id, draws = min(nb, ceil(2*s*nb/n))), dedup, top-10 md5
        # priorities per batch; wins in a batch = members ranked after;
        # final order = wins desc. Mirrors rank._qurk_membership exactly.
        "rank_comparison": """
            WITH keyed AS (
              SELECT doc_id, text,
                     CAST(doc_id AS VARCHAR) || '||' || text AS rk,
                     len(list_filter(string_split(text, ' '), x -> x <> '')) AS ntok
              FROM documents
            ),
            nb AS (
              SELECT LEAST(200, GREATEST(1, CAST(ceil(2.0 * 10 * 200 / COUNT(*)) AS BIGINT))) AS draws
              FROM keyed
            ),
            cand AS (
              SELECT DISTINCT doc_id, rk, ntok,
                     ('0x' || substr(md5('42#' || js.j || '#' || rk), 1, 8))::BIGINT % 200 AS batch
              FROM keyed, (SELECT unnest(range(0, (SELECT draws FROM nb))) AS j) js
            ),
            member AS (
              SELECT doc_id, rk, ntok, batch,
                     ROW_NUMBER() OVER (
                       PARTITION BY batch
                       ORDER BY ('0x' || substr(md5('42_' || batch || '_' || rk), 1, 8))::BIGINT, rk
                     ) AS draw
              FROM cand
            ),
            inbatch AS (SELECT * FROM member WHERE draw <= 10),
            wins AS (
              SELECT doc_id,
                     COUNT(*) OVER (PARTITION BY batch) -
                     ROW_NUMBER() OVER (PARTITION BY batch ORDER BY ntok DESC, doc_id) AS w
              FROM inbatch
            ),
            total AS (
              SELECT k.doc_id, COALESCE(SUM(w), 0) AS wins
              FROM keyed k LEFT JOIN wins ON k.doc_id = wins.doc_id
              GROUP BY k.doc_id
            )
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY wins DESC, doc_id) AS BIGINT) AS _rank
            FROM total""",
        "rank_likert_docs": """
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (
                     ORDER BY len(list_filter(string_split(text, ' '), x -> x <> '')) DESC, doc_id
                   ) AS BIGINT) AS _rank
            FROM documents""",
        "extract_regex_mentions": """
            SELECT doc_id, COALESCE(array_to_string(regexp_extract_all(text, 'join\\w*'), chr(10)), '') AS mentions
            FROM documents""",
        "link_resolve_langs": """
            SELECT doc_id, lang || ',zz-unknown' AS links_s FROM documents""",
        "parallel_map_docs": """
            SELECT doc_id,
                   CASE WHEN text LIKE '%fast%' THEN 'positive'
                        WHEN text LIKE '%slow%' THEN 'negative'
                        ELSE 'neutral' END AS sentiment,
                   len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
            FROM documents""",
        "unnest_columns_struct": """
            SELECT doc_id,
                   CAST(len(CASE WHEN trim(text) = '' THEN []
                            ELSE string_split_regex(trim(text), '\\s+') END) AS BIGINT) AS n_tokens,
                   lang AS lang_code
            FROM documents""",
        "add_uuid_det": """
            SELECT o_orderkey, md5(CAST(o_orderkey AS VARCHAR)) AS row_id FROM orders""",
        "split_tokens": """
            WITH toks AS (
              SELECT doc_id, regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+') AS t
              FROM documents
            ), idx AS (
              SELECT doc_id, t,
                     CAST(unnest(range(1, CAST(ceil(len(t) / 50.0) AS BIGINT) + 1)) AS BIGINT) AS tsplit_chunk_num
              FROM toks WHERE len(t) > 0
            )
            SELECT doc_id,
                   array_to_string(t[(tsplit_chunk_num-1)*50 + 1 : least(tsplit_chunk_num*50, len(t))], '') AS text_chunk,
                   tsplit_chunk_num
            FROM idx""",
        "sample_outliers_emb": """
            WITH dims AS (
              SELECT vec_id, generate_subscripts(embedding, 1) AS d, CAST(unnest(embedding) AS DOUBLE) AS v
              FROM embeddings
            ), moments AS (
              SELECT d, AVG(v) AS mean, AVG(v * v) - AVG(v) * AVG(v) AS var FROM dims GROUP BY d
            ), dist AS (
              SELECT vec_id, sqrt(SUM((v - mean) * (v - mean))) AS dist
              FROM dims JOIN moments USING (d) GROUP BY vec_id
            ), cutoff AS (
              SELECT sqrt(SUM(greatest(var, 0.0))) * 1.0 AS c FROM moments
            )
            SELECT vec_id FROM dist, cutoff WHERE dist <= c""",
        "embedding_near_dup": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            p AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     list_dot_product(a.v, b.v)
                       / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS c
              FROM e a JOIN e b ON a.vec_id < b.vec_id
            )
            SELECT id_a, id_b, ROUND(c, 4) AS cosine FROM p WHERE ROUND(c, 4) >= 0.40""",
        "split_gather_docs": """
            WITH parts AS (
              SELECT doc_id, list_filter(string_split(text, ' '), x -> trim(x) <> '') AS p FROM documents
            ), idx AS (
              SELECT doc_id, p, CAST(unnest(range(1, CAST(ceil(len(p) / 10.0) AS BIGINT) + 1)) AS BIGINT) AS split_chunk_num
              FROM parts WHERE len(p) > 0
            ), chunks AS (
              SELECT doc_id,
                     trim(array_to_string(p[(split_chunk_num-1)*10 + 1 : least(split_chunk_num*10, len(p))], ' ')) AS c,
                     split_chunk_num
              FROM idx
            ), ctx AS (
              SELECT doc_id, split_chunk_num, c,
                     LAG(c) OVER w AS prev_c, LAG(split_chunk_num) OVER w AS prev_n,
                     LEAD(c) OVER w AS next_c, LEAD(split_chunk_num) OVER w AS next_n,
                     SUM(length(c)) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING) AS skip_prev,
                     SUM(length(c)) OVER (w ROWS BETWEEN 2 FOLLOWING AND UNBOUNDED FOLLOWING) AS skip_next
              FROM chunks WINDOW w AS (PARTITION BY doc_id ORDER BY split_chunk_num)
            )
            SELECT doc_id, split_chunk_num,
                   concat_ws(chr(10),
                     '--- Previous Context ---',
                     CASE WHEN skip_prev IS NOT NULL THEN '[... ' || skip_prev || ' characters skipped ...]' END,
                     CASE WHEN prev_c IS NOT NULL THEN '[Chunk ' || prev_n || ']' || chr(10) || prev_c END,
                     '--- End Previous Context ---' || chr(10),
                     '--- Begin Main Chunk ---', c, '--- End Main Chunk ---',
                     chr(10) || '--- Next Context ---',
                     CASE WHEN next_c IS NOT NULL THEN '[Chunk ' || next_n || ']' || chr(10) || next_c END,
                     CASE WHEN skip_next IS NOT NULL THEN '[... ' || skip_next || ' characters skipped ...]' END,
                     '--- End Next Context ---') AS text_chunk_rendered
            FROM ctx""",
        # breadcrumb: chunk n carries header Hn at level 1 when n%3==1
        # else level 2; a level-2 chunk renders the latest level-1 section
        # H(n - (n-1)%3); level-1 chunks render nothing above themselves.
        "gather_headers": """
            WITH parts AS (
              SELECT doc_id, list_filter(string_split(text, ' '), x -> trim(x) <> '') AS p FROM documents
            ), idx AS (
              SELECT doc_id, p, CAST(unnest(range(1, CAST(ceil(len(p) / 10.0) AS BIGINT) + 1)) AS BIGINT) AS split_chunk_num
              FROM parts WHERE len(p) > 0
            ), chunks AS (
              SELECT doc_id,
                     trim(array_to_string(p[(split_chunk_num-1)*10 + 1 : least(split_chunk_num*10, len(p))], ' ')) AS c,
                     split_chunk_num
              FROM idx
            ), ctx AS (
              SELECT doc_id, split_chunk_num, c,
                     LAG(c) OVER w AS prev_c, LAG(split_chunk_num) OVER w AS prev_n,
                     LEAD(c) OVER w AS next_c, LEAD(split_chunk_num) OVER w AS next_n,
                     SUM(length(c)) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING) AS skip_prev,
                     SUM(length(c)) OVER (w ROWS BETWEEN 2 FOLLOWING AND UNBOUNDED FOLLOWING) AS skip_next
              FROM chunks WINDOW w AS (PARTITION BY doc_id ORDER BY split_chunk_num)
            )
            SELECT doc_id, split_chunk_num,
                   concat_ws(chr(10),
                     '--- Previous Context ---',
                     CASE WHEN skip_prev IS NOT NULL THEN '[... ' || skip_prev || ' characters skipped ...]' END,
                     CASE WHEN prev_c IS NOT NULL THEN '[Chunk ' || prev_n || ']' || chr(10) || prev_c END,
                     '--- End Previous Context ---' || chr(10),
                     CASE WHEN split_chunk_num % 3 <> 1
                          THEN '_Current Section:_ # H' || (split_chunk_num - ((split_chunk_num - 1) % 3)) END,
                     '--- Begin Main Chunk ---', c, '--- End Main Chunk ---',
                     chr(10) || '--- Next Context ---',
                     CASE WHEN next_c IS NOT NULL THEN '[Chunk ' || next_n || ']' || chr(10) || next_c END,
                     CASE WHEN skip_next IS NOT NULL THEN '[... ' || skip_next || ' characters skipped ...]' END,
                     '--- End Next Context ---') AS text_chunk_rendered
            FROM ctx""",
        "sem_reduce_fold": """
            SELECT lang, COUNT(*) AS n_docs, COUNT(*) AS group_size
            FROM documents GROUP BY lang""",
        "sem_reduce_salted": """
            SELECT lang, COUNT(*) AS n_docs, COUNT(*) AS group_size
            FROM documents GROUP BY lang""",
        "sem_filter_cascade": """
            SELECT doc_id, lang FROM documents
            WHERE CASE WHEN text LIKE '%fast%' THEN TRUE
                       WHEN text LIKE '%slow%' THEN FALSE
                       ELSE text LIKE '%join%' END""",
        # calibrated recall cascade: threshold lands on 0.5, so
        # slow-not-fast docs (P(keep)=0.1) are proxy-dropped; the rest
        # escalate to the oracle rule (fast or join)
        "sem_filter_cascade_calibrated": """
            SELECT doc_id, lang FROM documents
            WHERE text LIKE '%fast%'
               OR (text LIKE '%join%' AND text NOT LIKE '%slow%')""",
        "sample_custom_keys": """
            SELECT o_orderkey, o_custkey FROM orders
            WHERE o_orderkey IN (1, 7, 32, 100, 555, 1000, 4999)""",
        "events_stream_sessions": """
            WITH g AS (
              SELECT user_id, event_id, epoch_ns(ts) AS ns, epoch_ns(ts) // 1000000000 AS e,
                     CASE WHEN LAG(epoch_ns(ts) // 1000000000) OVER w IS NULL
                          OR epoch_ns(ts) // 1000000000 - LAG(epoch_ns(ts) // 1000000000) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
              SELECT user_id, e,
                     CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ns, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
              FROM g
            )
            SELECT user_id, session_id, COUNT(*) AS n_events, MIN(e) AS start_epoch, MAX(e) AS end_epoch
            FROM s GROUP BY user_id, session_id""",
        "multimodal_image_meta": """
            SELECT doc_id,
                   16 + (('0x' || substr(md5(text), 1, 2))::INT % 64) AS width,
                   16 + (('0x' || substr(md5(text), 3, 2))::INT % 64) AS height,
                   'fake' AS fmt
            FROM documents
            WHERE 16 + (('0x' || substr(md5(text), 1, 2))::INT % 64) >= 32""",
        "multimodal_frame_sample": """
            SELECT doc_id, (i - 1) * 30 AS frame_index
            FROM (SELECT doc_id, unnest(range(1, (length(text) % 5) + 2)) AS i
                  FROM documents)""",
        # stream-static anti-join == batch anti-join on the fingerprint
        "stream_dedup_corpus": """
            WITH fp AS (
              SELECT doc_id,
                     md5(array_to_string(list_filter(list_transform(
                       string_split_regex(trim(lower(text)), '\\s+'),
                       t -> regexp_replace(t, '[^a-z0-9]', '', 'g')), t -> t <> ''), ' ')) AS f
              FROM documents
            )
            SELECT doc_id FROM fp
            WHERE f NOT IN (SELECT f FROM fp WHERE doc_id % 3 = 0)""",
        # streaming dedup emits only key columns -> batch DISTINCT parity
        "events_stream_dedup": """
            SELECT DISTINCT user_id, event_type,
                   (epoch_ns(ts) // 3600000000000) * 3600 AS hour_epoch
            FROM events""",
        "events_stream_rollup": """
            SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS window_start_epoch,
                   event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
            FROM events GROUP BY 1, 2""",
        "cluster_docs": """
            SELECT vec_id,
                   'cluster[' || (SELECT COUNT(*) FROM embeddings) || ']' AS root
            FROM embeddings""",
        "cluster_docs_distributed": """
            SELECT vec_id,
                   'cluster[' || (SELECT COUNT(*) FROM embeddings) || ']' AS root
            FROM embeddings""",
        "sem_map_batch": """
            SELECT doc_id,
                   CASE WHEN text LIKE '%fast%' THEN 'positive'
                        WHEN text LIKE '%slow%' THEN 'negative'
                        ELSE 'neutral' END AS sentiment
            FROM documents""",
        # concat-and-chunk packing: shard-partitioned running token sum,
        # each doc's span [s, e) cut every 512 tokens
        "pack_sequences_docs": """
            WITH t AS (
              SELECT doc_id, doc_id % 8 AS shard,
                     CAST(CASE WHEN trim(text) = '' THEN 0
                          ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tok
              FROM documents
            ), nz AS (SELECT * FROM t WHERE n_tok > 0),
            spans AS (
              SELECT doc_id, shard, n_tok,
                     CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS e,
                     CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id) - n_tok AS BIGINT) AS s
              FROM nz
            ), pieces AS (
              SELECT doc_id, shard, s, e,
                     unnest(generate_series(s // 512, (e - 1) // 512)) AS seq_id
              FROM spans
            )
            SELECT doc_id, CAST(shard AS BIGINT) AS shard, CAST(seq_id AS BIGINT) AS seq_id,
                   CAST(GREATEST(s, seq_id * 512) - s AS BIGINT) AS doc_tok_start,
                   CAST(LEAST(e, (seq_id + 1) * 512) - s AS BIGINT) AS doc_tok_end,
                   CAST(GREATEST(s, seq_id * 512) - seq_id * 512 AS BIGINT) AS seq_off
            FROM pieces""",
        # distinct 13-gram overlap vs the doc_id%10 benchmark stand-in;
        # gram key = md5 low-64 prefix, same in both engines
        "contamination_check": """
            WITH toks AS (
              SELECT doc_id,
                     CASE WHEN trim(lower(text)) = '' THEN []
                          ELSE list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t <> '') END AS tk
              FROM documents
            ), grams AS (
              SELECT doc_id,
                     list_distinct(CASE WHEN len(tk) >= 13 THEN
                       list_transform(generate_series(0, len(tk) - 13),
                                      i -> substring(md5(array_to_string(tk[i+1:i+13], ' ')), 1, 16))
                     ELSE [] END) AS gs
              FROM toks
            ), bench AS (
              SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 10 = 0
            ), pergram AS (
              SELECT doc_id, unnest(gs) AS g FROM grams
            ), counted AS (
              SELECT p.doc_id, COUNT(*) AS n_ngrams, COUNT(b.g) AS n_overlap
              FROM pergram p LEFT JOIN bench b USING (g) GROUP BY p.doc_id
            )
            SELECT g.doc_id, CAST(COALESCE(c.n_ngrams, 0) AS BIGINT) AS n_ngrams,
                   CAST(COALESCE(c.n_overlap, 0) AS BIGINT) AS n_overlap,
                   CASE WHEN COALESCE(c.n_ngrams, 0) > 0
                        THEN ROUND(COALESCE(c.n_overlap, 0) / c.n_ngrams, 6) ELSE 0.0 END AS overlap_ratio
            FROM grams g LEFT JOIN counted c USING (doc_id)""",
        # temperature mixing: per-lang rate ~ n^(1/T), deterministic md5 draw
        "sample_temperature_mix": """
            WITH counts AS (SELECT lang AS g, COUNT(*) AS n FROM documents GROUP BY lang),
            tot AS (SELECT SUM(n) AS total, SUM(pow(n, 0.5)) AS wsum FROM counts),
            rates AS (
              SELECT g, ROUND(LEAST(1.0, 0.3 * total * pow(n, 0.5) / wsum / n), 9) AS rate
              FROM counts, tot
            )
            SELECT d.doc_id, d.lang FROM documents d JOIN rates r ON d.lang = r.g
            WHERE CAST(CONCAT('0x', SUBSTRING(md5('mix|' || CAST(d.doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
                  / 16777216.0 < r.rate""",
        # axis-plane LSH: bucket = sign bits of the first 8 dims, top-10
        # within the query's bucket
        "ann_lsh": """
            WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
            b AS (
              SELECT vec_id, ev,
                     (CASE WHEN ev[1] > 0 THEN 1 ELSE 0 END) + (CASE WHEN ev[2] > 0 THEN 2 ELSE 0 END)
                   + (CASE WHEN ev[3] > 0 THEN 4 ELSE 0 END) + (CASE WHEN ev[4] > 0 THEN 8 ELSE 0 END)
                   + (CASE WHEN ev[5] > 0 THEN 16 ELSE 0 END) + (CASE WHEN ev[6] > 0 THEN 32 ELSE 0 END)
                   + (CASE WHEN ev[7] > 0 THEN 64 ELSE 0 END) + (CASE WHEN ev[8] > 0 THEN 128 ELSE 0 END) AS bucket
              FROM v
            ), q AS (SELECT vec_id AS query_id, ev AS qv, bucket FROM b WHERE vec_id < 5),
            scored AS (
              SELECT q.query_id, b.vec_id,
                     ROUND(list_dot_product(b.ev, q.qv)
                       / (sqrt(list_dot_product(b.ev, b.ev)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
              FROM b JOIN q USING (bucket)
            )
            SELECT query_id, vec_id, score,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS BIGINT) AS rank
            FROM scored QUALIFY rank <= 10""",
        # join-based RAG: each row's top-1 corpus doc is its own lang
        # string (identical text -> cosine 1.0 under any embedder)
        # hybrid RRF replay: BM25 over the 10-string corpus (bm25_topk
        # formula verbatim — the bm25_search_docs idiom), the vector list
        # pinned to the exact-text match (cosine 1.0 ⇒ rank 1 for any
        # embedder), fusion = 1/(60+rank) per list, ties by md5 text key
        "rag_retrieve_hybrid": """
            WITH c(text) AS (VALUES ('en'),('de'),('zh'),('fr'),('es'),
                   ('en de'),('de zh'),('zh fr'),('fr es'),('es en')),
            corp AS (
              SELECT md5(text) cid, text,
                     list_filter(regexp_split_to_array(lower(text),
                                 '[^a-z0-9]+'), t -> t <> '') toks
              FROM c),
            stats AS (SELECT COUNT(*) n, SUM(len(toks)) sl FROM corp),
            q AS (SELECT DISTINCT lang FROM documents WHERE lang IS NOT NULL),
            qt AS (
              SELECT lang, unnest(list_distinct(list_filter(
                       regexp_split_to_array(lower(lang), '[^a-z0-9]+'),
                       t -> t <> ''))) term
              FROM q),
            toks AS (SELECT cid, len(toks) dl, unnest(toks) term FROM corp),
            posting AS (
              SELECT cid, term, dl, COUNT(*) tf
              FROM toks WHERE term IN (SELECT DISTINCT term FROM qt)
              GROUP BY 1, 2, 3),
            dft AS (SELECT term, COUNT(*) dfreq FROM posting GROUP BY 1),
            scored AS (
              SELECT qt.lang, p.cid,
                     ROUND(SUM(CAST(
                       ln(CAST(1.0 AS DOUBLE)
                          + ((s.n - d.dfreq) + CAST(0.5 AS DOUBLE))
                            / (d.dfreq + CAST(0.5 AS DOUBLE)))
                       * (p.tf * CAST(2.2 AS DOUBLE)
                          / (p.tf + CAST(1.2 AS DOUBLE)
                             * (CAST(0.25 AS DOUBLE)
                                + CAST(0.75 AS DOUBLE) * p.dl
                                  / (CAST(s.sl AS DOUBLE) / CAST(s.n AS DOUBLE)))))
                     AS DECIMAL(28,12))), 6) score
              FROM posting p
              JOIN dft d ON d.term = p.term
              JOIN qt ON qt.term = p.term
              CROSS JOIN stats s
              GROUP BY 1, 2),
            fts AS (
              SELECT lang, cid,
                     ROW_NUMBER() OVER (PARTITION BY lang
                                        ORDER BY score DESC, cid) rl
              FROM scored QUALIFY rl <= 3),
            vec AS (SELECT lang, md5(lang) cid, 1 AS rv FROM q),
            fused AS (
              SELECT COALESCE(f.lang, v.lang) lang,
                     COALESCE(f.cid, v.cid) cid,
                     COALESCE(CAST(1.0 AS DOUBLE) / (60 + v.rv), 0)
                     + COALESCE(CAST(1.0 AS DOUBLE) / (60 + f.rl), 0) rrf
              FROM fts f FULL JOIN vec v
                ON f.lang = v.lang AND f.cid = v.cid),
            top2 AS (
              SELECT lang, cid,
                     ROW_NUMBER() OVER (PARTITION BY lang
                                        ORDER BY rrf DESC, cid) rk
              FROM fused QUALIFY rk <= 2),
            ctx AS (
              SELECT t.lang,
                     string_agg('[doc ' || rk || '] ' || corp.text,
                                e'\n\n' ORDER BY rk) _retrieved_context
              FROM top2 t JOIN corp ON corp.cid = t.cid
              GROUP BY 1)
            SELECT d.doc_id, d.lang, ctx._retrieved_context
            FROM documents d JOIN ctx ON d.lang = ctx.lang""",
        "rag_retrieve_context": """
            SELECT doc_id, lang, '[doc 1] ' || lang AS _retrieved_context
            FROM documents""",
        # SemDeDup replay with injected axis centroids: assignment =
        # argmax cosine vs e_0..e_7 = argmax of the first 8 components
        # (|v| is constant per row; ties to the lower cid, matching
        # numpy argmax); dominance rule drops any row with a
        # smaller-id same-cluster near-dup at rounded cosine >= 0.45.
        "semdedup_embeddings": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            assign AS (
              SELECT vec_id, v, c.cid,
                     ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY v[c.cid+1] DESC, c.cid ASC) AS rn
              FROM e CROSS JOIN (SELECT UNNEST(range(8)) AS cid) c
            ), cl AS (SELECT vec_id, v, cid FROM assign WHERE rn = 1),
            dominated AS (
              SELECT DISTINCT b.vec_id
              FROM cl a JOIN cl b ON a.cid = b.cid AND a.vec_id < b.vec_id
              WHERE ROUND(list_dot_product(a.v, b.v)
                      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.45
            )
            SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id FROM cl
            WHERE vec_id NOT IN (SELECT vec_id FROM dominated)""",
        # PQ/ADC replay with the injected grid codebook: code = argmin
        # over the 16 grid levels of the exact subvector distance (ties
        # to the lower level, matching numpy argmin); ADC distance =
        # per-dimension (q_i - grid(code))^2 summed, rounded to 6.
        "ann_pq": """
            WITH dims AS (
              SELECT vec_id, generate_subscripts(embedding, 1) AS d, CAST(unnest(embedding) AS DOUBLE) AS v
              FROM embeddings
            ),
            grid AS (SELECT unnest(range(0, 16)) AS c),
            scored AS (
              SELECT d.vec_id, (d.d - 1) // 8 AS j, g.c,
                     SUM((d.v - (-1.5 + 0.2 * g.c)) * (d.v - (-1.5 + 0.2 * g.c))) AS sub_dist
              FROM dims d, grid g
              GROUP BY d.vec_id, (d.d - 1) // 8, g.c
            ),
            codes AS (
              SELECT vec_id, j, c AS code FROM (
                SELECT vec_id, j, c,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY sub_dist, c) AS rn
                FROM scored
              ) WHERE rn = 1
            ),
            qd AS (
              SELECT i, (CAST((i * 37) % 13 AS DOUBLE) - 6) / 6.0 AS q
              FROM (SELECT unnest(range(0, 64)) AS i)
            ),
            tbl AS (
              SELECT qd.i // 8 AS j, g.c,
                     SUM((qd.q - (-1.5 + 0.2 * g.c)) * (qd.q - (-1.5 + 0.2 * g.c))) AS t
              FROM qd, grid g
              GROUP BY qd.i // 8, g.c
            ),
            dist AS (
              SELECT codes.vec_id, ROUND(SUM(tbl.t), 6) AS distance
              FROM codes JOIN tbl ON codes.j = tbl.j AND codes.code = tbl.c
              GROUP BY codes.vec_id
            )
            SELECT vec_id, distance,
                   CAST(ROW_NUMBER() OVER (ORDER BY distance ASC, vec_id ASC) AS BIGINT) AS rank
            FROM dist ORDER BY distance ASC, vec_id ASC LIMIT 10""",
        # PII scrub: same regex syntax under Java regex and RE2
        "pii_redact_docs": """
            WITH planted AS (
              SELECT doc_id,
                     text || ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
                          || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS text
              FROM documents
            )
            SELECT doc_id,
                   substring(regexp_replace(regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                       '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '[IP]', 'g'), -40, 40) AS redacted_tail,
                   CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
                   CAST(len(regexp_extract_all(text, '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b')) AS BIGINT) AS n_ip
            FROM planted""",
        # Gopher repetition signals over planted boilerplate
        "repetition_stats_docs": """
            WITH planted AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0
                          THEN text || chr(10) || 'buy now' || chr(10) || 'buy now' || chr(10) || 'buy now'
                          ELSE text END AS text
              FROM documents
            ), lines AS (
              SELECT doc_id,
                     list_filter(list_transform(string_split(text, chr(10)),
                                 s -> trim(s, ' ' || chr(9) || chr(10) || chr(13) || chr(12) || chr(11))),
                                 s -> s <> '') AS ls
              FROM planted
            ), toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS tk
              FROM planted
            ), grams AS (
              SELECT doc_id,
                     CASE WHEN len(tk) >= 2 THEN
                       list_transform(generate_series(0, len(tk) - 2), i -> tk[i+1] || ' ' || tk[i+2])
                     ELSE [] END AS gs
              FROM toks
            ), gshare AS (
              SELECT doc_id, MAX(c)::DOUBLE / SUM(c) AS share FROM (
                SELECT doc_id, g, COUNT(*) AS c
                FROM (SELECT doc_id, unnest(gs) AS g FROM grams) GROUP BY doc_id, g
              ) GROUP BY doc_id
            ), dl AS (
              SELECT doc_id,
                     CASE WHEN len(ls) > 0
                          THEN ROUND(1.0 - len(list_distinct(ls))::DOUBLE / len(ls), 6)
                          ELSE 0.0 END AS dup_line_frac
              FROM lines
            )
            SELECT p.doc_id, dl.dup_line_frac,
                   COALESCE(ROUND(g.share, 6), 0.0) AS top_ngram_share,
                   dl.dup_line_frac > 0.3 AS boilerplate_flag
            FROM planted p JOIN dl USING (doc_id) LEFT JOIN gshare g USING (doc_id)""",
        # stream decontamination == batch "no shared gram" anti-semi-join
        # mixture planning: T = min(available/weight) over targeted
        # non-empty groups; rate = round9(weight*T/available); the
        # apply step replays the same md5 draw as sample_temperature
        "corpus_mixture_plan": """
            WITH counts AS (SELECT lang AS "group", CAST(SUM(n_chars) AS DOUBLE) AS available
                            FROM documents GROUP BY lang),
            w(g, weight) AS (VALUES ('de', 0.2), ('en', 0.4), ('es', 0.2), ('fr', 0.1), ('zh', 0.1)),
            p AS (SELECT c."group", c.available, CAST(COALESCE(w.weight, 0.0) AS DOUBLE) AS weight
                  FROM counts c LEFT JOIN w ON c."group" = w.g),
            t AS (SELECT MIN(available / weight) AS _t FROM p WHERE weight > 0 AND available > 0),
            r AS (SELECT "group", available, weight,
                         CASE WHEN weight > 0 AND available > 0 AND _t IS NOT NULL
                              THEN ROUND(LEAST(1.0, weight * _t / available), 9) ELSE 0.0 END AS rate
                  FROM p, t)
            SELECT "group", available, weight, rate, ROUND(available * rate, 3) AS planned FROM r""",
        "corpus_mixture_docs": """
            WITH counts AS (SELECT lang AS g, CAST(SUM(n_chars) AS DOUBLE) AS available
                            FROM documents GROUP BY lang),
            w(g, weight) AS (VALUES ('de', 0.2), ('en', 0.4), ('es', 0.2), ('fr', 0.1), ('zh', 0.1)),
            p AS (SELECT c.g, c.available, CAST(COALESCE(w.weight, 0.0) AS DOUBLE) AS weight
                  FROM counts c LEFT JOIN w ON c.g = w.g),
            t AS (SELECT MIN(available / weight) AS _t FROM p WHERE weight > 0 AND available > 0),
            r AS (SELECT g, CASE WHEN weight > 0 AND available > 0 AND _t IS NOT NULL
                                 THEN ROUND(LEAST(1.0, weight * _t / available), 9) ELSE 0.0 END AS rate
                  FROM p, t)
            SELECT d.doc_id, d.lang FROM documents d JOIN r ON d.lang = r.g
            WHERE CAST(CONCAT('0x', SUBSTRING(md5('mixplan|' || CAST(d.doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
                  / 16777216.0 < r.rate""",
        # streaming semantic map drains to the same row set as the batch
        # rule backend: fast->positive, slow->negative, else neutral
        "stream_semantic_map": """
            SELECT doc_id,
                   CASE WHEN text LIKE '%fast%' THEN 'positive'
                        WHEN text LIKE '%slow%' THEN 'negative'
                        ELSE 'neutral' END AS sentiment
            FROM documents""",
        "stream_decontaminate": """
            WITH toks AS (
              SELECT doc_id,
                     CASE WHEN trim(lower(text)) = '' THEN []
                          ELSE list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t <> '') END AS tk
              FROM documents
            ), grams AS (
              SELECT doc_id,
                     list_distinct(CASE WHEN len(tk) >= 13 THEN
                       list_transform(generate_series(0, len(tk) - 13),
                                      i -> substring(md5(array_to_string(tk[i+1:i+13], ' ')), 1, 16))
                     ELSE [] END) AS gs
              FROM toks
            ), bench AS (
              SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 10 = 0
            ), hit AS (
              SELECT DISTINCT p.doc_id
              FROM (SELECT doc_id, unnest(gs) AS g FROM grams) p JOIN bench USING (g)
            )
            SELECT doc_id FROM grams WHERE doc_id NOT IN (SELECT doc_id FROM hit)""",
        # C4-style duplicate-passage removal: 20-token chunks, global
        # keep-first per distinct chunk, docs rebuilt from survivors
        "passage_dedup_docs": """
            WITH tk AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS tk
              FROM documents
            ), chunks AS (
              SELECT doc_id, i AS pos,
                     array_to_string(tk[i*20+1 : (i+1)*20], ' ') AS chunk
              FROM tk, UNNEST(generate_series(0, CAST(ceil(len(tk) / 20.0) AS BIGINT) - 1)) AS u(i)
            ), keep AS (
              SELECT doc_id, pos, chunk FROM (
                SELECT *, row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
                FROM chunks) WHERE rn = 1
            ), rebuilt AS (
              SELECT doc_id, string_agg(chunk, ' ' ORDER BY pos) AS clean_text,
                     count(*) AS n_kept
              FROM keep GROUP BY doc_id
            )
            SELECT t.doc_id,
                   COALESCE(r.clean_text, '') AS clean_text,
                   COALESCE(r.n_kept, 0) AS n_chunks_kept,
                   CAST(ceil(len(t.tk) / 20.0) AS BIGINT) AS n_chunks_total
            FROM tk t LEFT JOIN rebuilt r USING (doc_id)""",
        # MOSS-style sampled 8-gram fingerprints: md5 hex prefix 0-3
        # (1/4 sample), common-gram cap 50 docs, pairs sharing >= 2
        "gram_fingerprint_dups": """
            WITH tk AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS tk
              FROM documents
            ), fps AS (
              SELECT DISTINCT doc_id, fp FROM (
                SELECT doc_id,
                       unnest(list_transform(generate_series(1, len(tk) - 7),
                                             i -> md5(array_to_string(tk[i : i+7], ' ')))) AS fp
                FROM tk WHERE len(tk) >= 8)
              WHERE substring(fp, 1, 1) IN ('0', '1', '2', '3')
            ), ok AS (
              SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50
            ), kept AS (
              SELECT fps.doc_id, fps.fp FROM fps JOIN ok USING (fp)
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
            FROM kept a JOIN kept b USING (fp)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 2""",
        # incremental ingest: src0 batch + uppercased src1 re-crawls,
        # anti-joined against the fingerprint store of the rest
        "dedup_incremental": """
            WITH batch AS (
              SELECT doc_id, text FROM documents WHERE source = 'src0'
              UNION ALL
              SELECT doc_id + 100000, upper(text) FROM documents WHERE source = 'src1'
            ), bfp AS (
              SELECT doc_id, text,
                     md5(array_to_string(list_filter(list_transform(
                       string_split_regex(trim(lower(text)), '\\s+'),
                       t -> regexp_replace(t, '[^a-z0-9]', '', 'g')), t -> t <> ''), ' ')) AS f
              FROM batch
            ), store AS (
              SELECT DISTINCT md5(array_to_string(list_filter(list_transform(
                       string_split_regex(trim(lower(text)), '\\s+'),
                       t -> regexp_replace(t, '[^a-z0-9]', '', 'g')), t -> t <> ''), ' ')) AS f
              FROM documents WHERE source <> 'src0'
            ), batch_first AS (
              SELECT doc_id, text, f FROM bfp
              QUALIFY row_number() OVER (PARTITION BY f ORDER BY doc_id) = 1
            )
            SELECT doc_id, text FROM batch_first
            WHERE f NOT IN (SELECT f FROM store)""",
        "q4_priority_semijoin": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders o
            WHERE EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
            GROUP BY o_orderpriority""",
        "customers_without_orders": """
            SELECT n_name, count(*) AS num_customers,
                   CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_bal
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE c.c_acctbal > 0
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
            GROUP BY n_name""",
        "set_ops_nations": """
            SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 7500
            INTERSECT
            SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000
            EXCEPT
            SELECT n_nationkey FROM nation WHERE n_regionkey = 0""",
        # fuzzy dedup end-to-end: same edge definition as minhash_near_dup
        # (all shingle-sharing pairs at exact Jaccard >= 0.8 — LSH at
        # 128/32 has ~5e-8 miss there), components via recursive CTE
        # (min reachable id), keep longest doc per component.
        "fuzzy_dedup_corpus": f"""
            WITH RECURSIVE sh AS (SELECT doc_id, {shingles3} AS s FROM documents),
            pairs AS (
              SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
              FROM (SELECT doc_id, unnest(s) AS g FROM sh) a
              JOIN (SELECT doc_id, unnest(s) AS g FROM sh) b
                ON a.g = b.g AND a.doc_id < b.doc_id
            ),
            e0 AS (
              SELECT ida, idb
              FROM pairs JOIN sh x ON pairs.ida = x.doc_id JOIN sh y ON pairs.idb = y.doc_id
              WHERE len(list_intersect(x.s, y.s))::DOUBLE / len(list_distinct(list_concat(x.s, y.s))) >= 0.8
            ),
            edges AS (SELECT ida AS a, idb AS b FROM e0 UNION SELECT idb, ida FROM e0),
            r(id, t) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT r.id, e.b FROM r JOIN edges e ON e.a = r.t
            ),
            comp AS (SELECT id AS doc_id, MIN(t) AS component FROM r GROUP BY id),
            lab AS (
              SELECT d.doc_id, c.component,
                     CAST(COUNT(*) OVER (PARTITION BY c.component) AS BIGINT) AS cluster_size,
                     CAST(len(list_filter(string_split(d.text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
              FROM documents d JOIN comp c ON d.doc_id = c.doc_id
            )
            SELECT doc_id, component, cluster_size, n_tokens FROM lab
            QUALIFY ROW_NUMBER() OVER (PARTITION BY component ORDER BY n_tokens DESC, doc_id) = 1""",
        # DSIR: hashed-unigram (256 buckets, md5-low-32) add-1 smoothed
        # log-likelihood-ratio weights vs the src0 target corpus;
        # deterministic Gumbel-top-100. Mirrors training.dsir_select.
        "dsir_select_docs": """
            WITH tok AS (
              SELECT doc_id,
                     unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')) AS tok
              FROM documents
            ),
            tb AS (SELECT doc_id, ('0x' || substr(md5('dsir#' || tok), 1, 8))::BIGINT % 256 AS bucket FROM tok),
            tgt AS (SELECT tb.bucket, COUNT(*) AS ct
                    FROM tb JOIN documents d ON tb.doc_id = d.doc_id
                    WHERE d.source = 'src0' GROUP BY tb.bucket),
            raw AS (SELECT bucket, COUNT(*) AS cr FROM tb GROUP BY bucket),
            tt AS (SELECT COALESCE(SUM(ct), 0) + 256 AS n FROM tgt),
            rt AS (SELECT COALESCE(SUM(cr), 0) + 256 AS n FROM raw),
            llr AS (
              SELECT s.bucket,
                     ln((COALESCE(tgt.ct, 0) + 1)::DOUBLE / (SELECT n FROM tt))
                   - ln((COALESCE(raw.cr, 0) + 1)::DOUBLE / (SELECT n FROM rt)) AS w
              FROM (SELECT unnest(range(0, 256)) AS bucket) s
              LEFT JOIN tgt ON s.bucket = tgt.bucket
              LEFT JOIN raw ON s.bucket = raw.bucket
            ),
            db AS (SELECT doc_id, bucket, COUNT(*) AS c FROM tb GROUP BY doc_id, bucket),
            lw AS (
              SELECT d.doc_id, COALESCE(SUM(db.c * llr.w), 0.0) AS logw
              FROM documents d
              LEFT JOIN db ON d.doc_id = db.doc_id
              LEFT JOIN llr ON db.bucket = llr.bucket
              GROUP BY d.doc_id
            ),
            sc AS (
              SELECT doc_id, ROUND(logw, 4) AS dsir_logw,
                     ROUND(logw - ln(-ln(
                       (('0x' || substr(md5('dsir!g#' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5) / 4294967296.0
                     )), 4) AS dsir_score
              FROM lw
            )
            SELECT doc_id, dsir_logw, dsir_score,
                   CAST(ROW_NUMBER() OVER (ORDER BY dsir_score DESC, doc_id) AS BIGINT) AS sel_rank
            FROM sc ORDER BY dsir_score DESC, doc_id LIMIT 100""",
        "vocab_top_terms": """
            WITH tok AS (
              SELECT doc_id,
                     unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')) AS term
              FROM documents
            ),
            per_doc AS (SELECT doc_id, term, COUNT(*) AS c FROM tok GROUP BY doc_id, term)
            SELECT term, CAST(SUM(c) AS BIGINT) AS tf, CAST(COUNT(*) AS BIGINT) AS df
            FROM per_doc GROUP BY term
            ORDER BY tf DESC, term LIMIT 50""",
        "corpus_shard_manifest": """
            WITH s AS (
              SELECT ('0x' || substr(md5('shard#' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 16 AS shard,
                     doc_id,
                     len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')) AS ntok
              FROM documents
            )
            SELECT shard, COUNT(*) AS num_docs, CAST(SUM(ntok) AS BIGINT) AS num_tokens,
                   MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
            FROM s GROUP BY shard""",
        # hashed-bigram add-1 LM: logp(w2|w1) = ln((c(b)+1)/(c(u)+2^16));
        # lm_nll = -avg over the doc's bigrams. Mirrors training.lm_score.
        "lm_score_docs": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS t
              FROM documents
            ),
            bgp AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(t)), i -> {'w1': t[i], 'w2': t[i+1]})) AS p
              FROM toks WHERE len(t) >= 2
            ),
            hb AS (
              SELECT doc_id,
                     ('0x' || substr(md5('lm#' || p.w1), 1, 8))::BIGINT % 65536 AS u,
                     ('0x' || substr(md5('lm#' || p.w1 || ' ' || p.w2), 1, 8))::BIGINT % 65536 AS b
              FROM bgp
            ),
            uni AS (SELECT u, COUNT(*) AS cu FROM hb GROUP BY u),
            big AS (SELECT u, b, COUNT(*) AS cb FROM hb GROUP BY u, b),
            sc AS (
              SELECT hb.doc_id,
                     -AVG(ln((big.cb + 1)::DOUBLE / (uni.cu + 65536)::DOUBLE)) AS nll
              FROM hb JOIN big ON hb.u = big.u AND hb.b = big.b JOIN uni ON hb.u = uni.u
              GROUP BY hb.doc_id
            )
            SELECT d.doc_id, ROUND(COALESCE(sc.nll, 0.0), 4) AS lm_nll
            FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id""",
        "corpus_split_docs": """
            SELECT doc_id, source,
                   CASE WHEN draw < 0.9 THEN 'train'
                        WHEN draw < 0.95 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id, source,
                         ('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT / 16777216.0 AS draw
                  FROM documents)""",
        "corpus_profile": """
            WITH t AS (
              SELECT source, lang, n_chars,
                     len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')) AS ntok
              FROM documents
            )
            SELECT source, COUNT(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS n_tokens,
                   CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
                   MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
                   ROUND(AVG(CASE WHEN ntok < 20 THEN 1.0 ELSE 0.0 END), 4) AS short_doc_share
            FROM t GROUP BY source""",
        # injected-weight linear quality model: x = ln(1+tf) per md5
        # bucket, prob = sigmoid(w.x + bias). Weight VALUES built from
        # the same dict as the Spark side (collision-merged identically).
        "quality_model_score": f"""
            WITH tok AS (
              SELECT doc_id,
                     unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')) AS tok
              FROM documents
            ),
            fx AS (
              SELECT doc_id,
                     ('0x' || substr(md5('qm#' || tok), 1, 8))::BIGINT % 32768 AS bucket,
                     ln(1 + COUNT(*)) AS x
              FROM tok GROUP BY doc_id, bucket
            ),
            wt(bucket, w) AS (VALUES {qm_values}),
            m AS (
              SELECT fx.doc_id, SUM(fx.x * wt.w) AS mm
              FROM fx JOIN wt ON fx.bucket = wt.bucket GROUP BY fx.doc_id
            )
            SELECT d.doc_id,
                   ROUND(1.0 / (1.0 + exp(-(COALESCE(m.mm, 0.0) + (-1.0)))), 4) AS quality_prob
            FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id""",
        # as-of replay: same union+window formulation (LAST_VALUE IGNORE
        # NULLS over (ats, side, tiebreak)), tolerance 2h in ns
        "events_asof_join": """
            WITH u AS (
              SELECT event_id, user_id, epoch_ns(ts) AS ats, 1 AS side,
                     CAST(NULL AS DOUBLE) AS rv, CAST(NULL AS BIGINT) AS rts, CAST(NULL AS BIGINT) AS rtb
              FROM events WHERE event_type = 'click'
              UNION ALL
              SELECT NULL, user_id, epoch_ns(ts), 0, value, epoch_ns(ts), event_id
              FROM events WHERE event_type = 'error'
            ),
            c AS (
              SELECT *, LAST_VALUE(rv IGNORE NULLS) OVER w AS c_rv,
                        LAST_VALUE(rts IGNORE NULLS) OVER w AS c_rts
              FROM u
              WINDOW w AS (PARTITION BY user_id ORDER BY ats, side, rtb NULLS FIRST
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            )
            SELECT event_id, user_id, ats // 1000000000 AS click_epoch,
                   CASE WHEN c_rts IS NOT NULL AND ats - c_rts <= 7200000000000
                        THEN c_rts // 1000000000 END AS err_epoch,
                   CASE WHEN c_rts IS NOT NULL AND ats - c_rts <= 7200000000000
                        THEN c_rv END AS err_value
            FROM c WHERE side = 1""",
        "events_range_join": """
            WITH w AS (
              SELECT user_id, MIN(epoch_ns(ts) // 1000000000) AS w_start,
                     MIN(epoch_ns(ts) // 1000000000) + 4 * 3600 AS w_end
              FROM events GROUP BY user_id
            ),
            v AS (
              SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS e
              FROM events WHERE event_type = 'view'
            )
            SELECT v.user_id, COUNT(*) AS n_views, MIN(v.event_id) AS first_view_id
            FROM v JOIN w ON v.user_id = w.user_id AND v.e >= w.w_start AND v.e < w.w_end
            GROUP BY v.user_id""",
        "events_time_rollup": """
            WITH b AS (
              SELECT epoch_ns(ts) // 1000000000 AS e,
                     CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
              FROM events
            ),
            g AS (
              SELECT e - (e % 86400) AS day, e - (e % 3600) AS hour, e - (e % 60) AS minute, cents
              FROM b
            )
            SELECT day, hour, minute, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS value_cents,
                   CASE WHEN GROUPING(minute) = 0 THEN 'minute'
                        WHEN GROUPING(hour) = 0 THEN 'hour'
                        WHEN GROUPING(day) = 0 THEN 'day'
                        ELSE 'all' END AS grain
            FROM g GROUP BY ROLLUP (day, hour, minute)""",
        "q13_order_histogram": """
            WITH per_cust AS (
              SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
              FROM customer c
              LEFT JOIN (SELECT * FROM orders WHERE o_orderpriority <> '1-URGENT') o
                ON c.c_custkey = o.o_custkey
              GROUP BY c.c_custkey
            )
            SELECT c_count, COUNT(*) AS custdist FROM per_cust GROUP BY c_count""",
        "q19_disjunct_revenue": """
            SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                         * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE l.l_returnflag IN ('N', 'R')
              AND ((p.p_brand = 'Brand#1' AND l.l_quantity BETWEEN 1 AND 11 AND p.p_size <= 5)
                OR (p.p_brand = 'Brand#2' AND l.l_quantity BETWEEN 10 AND 20 AND p.p_size <= 10)
                OR (p.p_brand = 'Brand#3' AND l.l_quantity BETWEEN 20 AND 30 AND p.p_size <= 15))""",
    }
    # the bucketed (hot-key skew) as-of plan is result-identical to the
    # default plan by contract — same oracle locks the equivalence
    sql["events_asof_join_bucketed"] = sql["events_asof_join"]
    # stream-stream interval join: oracle is the identical BATCH range
    # join on exact nanos — stream/batch parity is the check
    sql["events_stream_interval_join"] = """
        SELECT c.user_id, c.event_id AS click_id, e.event_id AS err_id,
               epoch_ns(c.ts) // 1000000000 AS click_epoch,
               epoch_ns(e.ts) // 1000000000 AS err_epoch
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        JOIN (SELECT * FROM events WHERE event_type = 'error') e
          ON c.user_id = e.user_id
         AND epoch_ns(e.ts) >= epoch_ns(c.ts) - 1800000000000
         AND epoch_ns(e.ts) <= epoch_ns(c.ts)"""
    # next-fit packing: the sequential recurrence replays as a recursive CTE
    sql["pack_documents_docs"] = """
        WITH RECURSIVE t AS (
          SELECT doc_id, doc_id % 8 AS shard,
                 CAST(CASE WHEN trim(text) = '' THEN 0
                      ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens
          FROM documents
        ), nz AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
          FROM t WHERE n_tokens > 0
        ), packed AS (
          SELECT doc_id, shard, n_tokens, rn,
                 CAST(0 AS BIGINT) AS bin_id, CAST(0 AS BIGINT) AS bin_off,
                 n_tokens AS fill
          FROM nz WHERE rn = 1
          UNION ALL
          SELECT nz.doc_id, nz.shard, nz.n_tokens, nz.rn,
                 CASE WHEN p.fill + nz.n_tokens > 256 THEN p.bin_id + 1 ELSE p.bin_id END,
                 CASE WHEN p.fill + nz.n_tokens > 256 THEN CAST(0 AS BIGINT) ELSE p.fill END,
                 CASE WHEN p.fill + nz.n_tokens > 256 THEN nz.n_tokens ELSE p.fill + nz.n_tokens END
          FROM packed p JOIN nz ON nz.shard = p.shard AND nz.rn = p.rn + 1
        )
        SELECT doc_id, CAST(shard AS BIGINT) AS shard, bin_id, bin_off, n_tokens,
               n_tokens > 256 AS overflow
        FROM packed"""
    # the bucketed sessionize plan is results-IDENTICAL to the default
    # plan by construction — same oracle
    sql["events_sessionize_bucketed"] = sql["events_sessionize"]
    sql["trim_repeated_lines_docs"] = """
        WITH d AS (
          SELECT doc_id,
                 concat_ws(chr(10),
                   regexp_replace(text, '\\. ', chr(10), 'g'),
                   split_part(regexp_replace(text, '\\. ', chr(10), 'g'), chr(10), 1),
                   split_part(regexp_replace(text, '\\. ', chr(10), 'g'), chr(10), 1)) AS txt
          FROM documents
        ), ex AS (
          SELECT doc_id,
                 unnest(string_split(txt, chr(10))) AS line,
                 generate_subscripts(string_split(txt, chr(10)), 1) AS ord
          FROM d
        ), kept AS (
          SELECT doc_id, line, ord,
                 ROW_NUMBER() OVER (PARTITION BY doc_id, line ORDER BY ord) AS rn
          FROM ex
        )
        SELECT doc_id,
               coalesce(string_agg(line, chr(10) ORDER BY ord)
                          FILTER (WHERE rn = 1 OR trim(line) = ''), '') AS clean_text
        FROM kept GROUP BY doc_id"""
    sql["substring_dedup_docs"] = """
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(coalesce(text, '')), '\\s+'), t -> t <> '') AS tk
          FROM documents
        ), win AS (
          SELECT doc_id, p - 1 AS pos,
                 md5(array_to_string(tk[p:p+7], ' ')) AS wh
          FROM toks, UNNEST(generate_series(1, len(tk) - 7)) AS g(p)
          WHERE len(tk) >= 8
        ), marked AS (
          SELECT doc_id, pos,
                 ROW_NUMBER() OVER (PARTITION BY wh ORDER BY doc_id, pos) AS rn
          FROM win
        ), covered AS (
          SELECT DISTINCT doc_id, q AS cpos
          FROM marked, UNNEST(generate_series(pos, pos + 7)) AS g(q)
          WHERE rn > 1
        ), stats AS (
          SELECT doc_id, count(*) AS dup_tokens FROM covered GROUP BY doc_id
        ), tok_rows AS (
          SELECT doc_id, p - 1 AS pos, tk[p] AS tok
          FROM toks, UNNEST(generate_series(1, len(tk))) AS g(p)
        ), clean AS (
          SELECT t.doc_id, string_agg(t.tok, ' ' ORDER BY t.pos) AS clean_text
          FROM tok_rows t
          WHERE NOT EXISTS (
            SELECT 1 FROM covered c WHERE c.doc_id = t.doc_id AND c.cpos = t.pos
          )
          GROUP BY t.doc_id
        )
        SELECT d.doc_id,
               CAST(len(d.tk) AS BIGINT) AS n_tokens,
               CAST(coalesce(s.dup_tokens, 0) AS BIGINT) AS dup_tokens,
               CASE WHEN len(d.tk) = 0 THEN 0.0
                    ELSE CAST(coalesce(s.dup_tokens, 0) AS DOUBLE) / len(d.tk) END AS dup_frac,
               coalesce(c.clean_text, '') AS clean_text
        FROM toks d
        LEFT JOIN stats s USING (doc_id)
        LEFT JOIN clean c USING (doc_id)"""
    _unimax_staged = """
        WITH counts AS (
          SELECT CAST(lang AS VARCHAR) AS grp, CAST(SUM(n_chars) AS DOUBLE) AS available
          FROM documents GROUP BY lang
        ), staged AS (
          SELECT grp, available, ROUND(available * 1.5, 9) AS capacity FROM counts
        ), win AS (
          SELECT grp, available, capacity,
                 SUM(capacity) OVER (ORDER BY capacity, grp
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 COUNT(*) OVER () - ROW_NUMBER() OVER (ORDER BY capacity, grp) AS after
          FROM staged
        ), lev AS (
          SELECT *, cum + after * capacity <= 200000.0 AS sat FROM win
        ), agg AS (
          SELECT MAX(CASE WHEN sat THEN cum END) AS cum_sat,
                 SUM(CASE WHEN sat THEN 0 ELSE 1 END) AS n_unsat
          FROM lev
        ), alloc AS (
          SELECT l.grp, l.available, l.capacity,
                 ROUND(CASE WHEN l.sat OR a.n_unsat = 0 THEN l.capacity
                       ELSE LEAST(l.capacity,
                                  (200000.0 - COALESCE(a.cum_sat, 0.0)) / a.n_unsat) END,
                       6) AS allocated
          FROM lev l, agg a
        ), plan AS (
          SELECT grp, available, capacity, allocated,
                 CASE WHEN available > 0 THEN ROUND(allocated / available, 9)
                      ELSE 0.0 END AS epochs
          FROM alloc
        )"""
    sql["unimax_plan_docs"] = _unimax_staged + """
        SELECT grp AS "group", available, capacity, allocated, epochs FROM plan"""
    sql["unimax_apply_docs"] = _unimax_staged + """
        , copies AS (
          SELECT d.doc_id, d.lang,
                 CAST(FLOOR(p.epochs) AS INT) +
                 CASE WHEN CAST(CONCAT('0x', SUBSTRING(
                          md5('unimax|' || CAST(d.doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
                          / 16777216.0 < p.epochs - FLOOR(p.epochs)
                      THEN 1 ELSE 0 END AS n_copies
          FROM documents d JOIN plan p ON CAST(d.lang AS VARCHAR) = p.grp
        )
        SELECT doc_id, lang, CAST(c AS INT) AS copy
        FROM copies, UNNEST(generate_series(1, n_copies)) AS g(c)
        WHERE n_copies >= 1"""
    sql["q17_small_quantity_revenue"] = """
        WITH pp AS (
          SELECT l.l_partkey,
                 SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS sq,
                 COUNT(*) AS cn
          FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
          WHERE p.p_brand = 'Brand#1'
          GROUP BY l.l_partkey
        )
        SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / 7.0 AS avg_yearly,
               COUNT(*) AS n_items
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#1'
        JOIN pp ON pp.l_partkey = l.l_partkey
        WHERE CAST(l.l_quantity AS DECIMAL(18,4)) * 5 * pp.cn < pp.sq"""
    sql["q18_large_orders"] = """
        WITH big AS (
          SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,4))) AS tq
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 250
        )
        SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
               CAST(CAST(b.tq AS VARCHAR) AS DOUBLE) AS total_qty
        FROM big b
        JOIN orders o ON o.o_orderkey = b.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        ORDER BY total_qty DESC, o.o_orderkey
        LIMIT 100"""
    sql["events_rolling_features"] = """
        SELECT event_id, user_id,
               CAST(ROW_NUMBER() OVER w AS BIGINT) AS event_idx,
               epoch_ns(ts) - LAG(epoch_ns(ts)) OVER w AS gap_ns,
               CAST(COUNT(*) OVER f AS BIGINT) AS rolling_n,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER f
                    AS BIGINT) AS rolling_cents
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id),
               f AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
                     ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)"""
    _quality_cte = f"""
        WITH t AS (
          SELECT doc_id, lang, source, text,
                 CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(text), '\\s+') END AS toks,
                 {norm_tok.format(c='text')} AS ntoks
          FROM documents
        ), q AS (
          SELECT doc_id, lang, source,
                 ROUND(0.4 * least(len(toks) / 100.0, 1.0)
                     + 0.2 * least((CASE WHEN len(ntoks) > 0 THEN len(list_filter(ntoks, x -> list_contains(['the','and','of','to','a','in','is','that','it','for'], x)))::DOUBLE / len(ntoks) ELSE 0.0 END) * 4.0, 1.0)
                     + 0.2 * (CASE WHEN (CASE WHEN len(toks) > 0 THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks) ELSE 0.0 END) >= 3.0
                                    AND (CASE WHEN len(toks) > 0 THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks) ELSE 0.0 END) <= 10.0
                              THEN 1.0 ELSE 0.5 END)
                     + 0.2 * (1.0 - least((CASE WHEN length(text) > 0 THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE / length(text) ELSE 0.0 END) * 2.0
                                        + (CASE WHEN length(text) > 0 THEN (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE / length(text) ELSE 0.0 END), 1.0)), 6) AS quality
          FROM t
        )"""
    sql["quality_top_quartile_docs"] = _quality_cte + """
        SELECT doc_id, lang, quality FROM (
          SELECT doc_id, lang, quality,
                 PERCENT_RANK() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS pr
          FROM q
        ) WHERE pr < 0.25"""
    # the bucketed rolling plan is results-IDENTICAL by construction —
    # same oracle (the sessionize_bucketed convention); the streaming
    # state machine must reproduce the same batch plan too
    sql["events_rolling_features_bucketed"] = sql["events_rolling_features"]
    sql["events_stream_rolling"] = sql["events_rolling_features"]
    sql["winnow_dup_pairs"] = """
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(coalesce(text, '')), '\\s+'), t -> t <> '') AS tk
          FROM documents
        ), grams AS (
          SELECT doc_id, p - 1 AS pos, md5(array_to_string(tk[p:p+4], ' ')) AS gh
          FROM toks, UNNEST(generate_series(1, len(tk) - 4)) AS g(p)
          WHERE len(tk) >= 5
        ), win AS (
          SELECT doc_id, pos,
                 COUNT(*) OVER (PARTITION BY doc_id) AS n,
                 MIN(ROW(gh, -pos)) OVER (PARTITION BY doc_id ORDER BY pos
                                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS pick
          FROM grams
        ), fps AS (
          SELECT DISTINCT doc_id, struct_extract(pick, 1) AS fp
          FROM win WHERE pos <= n - 4 OR pos = 0
        ), capped AS (
          SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 20
        ), keep AS (
          SELECT f.doc_id, f.fp FROM fps f JOIN capped USING (fp)
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING COUNT(*) >= 2"""
    sql["sn_blocking_pairs"] = """
        WITH ranked AS (
          SELECT doc_id,
                 ROW_NUMBER() OVER (
                   ORDER BY lower(substring(coalesce(text, ''), 1, 12)), doc_id
                 ) AS rnk
          FROM documents
        )
        SELECT LEAST(a.doc_id, b.doc_id) AS id_a,
               GREATEST(a.doc_id, b.doc_id) AS id_b
        FROM ranked a JOIN ranked b
          ON b.rnk > a.rnk AND b.rnk - a.rnk <= 4"""
    sql["q7_nation_volume"] = """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                        * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS volume,
               COUNT(*) AS n_items
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
        WHERE s.s_nationkey <> c.c_nationkey
        GROUP BY n1.n_name, n2.n_name"""
    sql["q10_returned_revenue"] = """
        WITH agg AS (
          SELECT c.c_custkey, c.c_name, n.n_name AS nation,
                 SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                     * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))) AS rev,
                 COUNT(*) AS n_items
          FROM lineitem l
          JOIN orders o ON o.o_orderkey = l.l_orderkey
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation n ON n.n_nationkey = c.c_nationkey
          WHERE l.l_returnflag = 'R'
          GROUP BY c.c_custkey, c.c_name, n.n_name
        )
        SELECT c_custkey, c_name, nation, CAST(CAST(rev AS VARCHAR) AS DOUBLE) AS revenue, n_items
        FROM agg ORDER BY rev DESC, c_custkey LIMIT 20"""
    sql["q22_idle_above_avg"] = """
        WITH nav AS (
          SELECT c_nationkey, SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS s, COUNT(*) AS n
          FROM customer WHERE c_acctbal > 0 GROUP BY c_nationkey
        ), cnt AS (
          SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey
        )
        SELECT c.c_custkey, CAST(c.c_nationkey AS BIGINT) AS nationkey, c.c_acctbal,
               CAST(COALESCE(cnt.n_orders, 0) AS BIGINT) AS n_orders
        FROM customer c
        JOIN nav ON nav.c_nationkey = c.c_nationkey
        LEFT JOIN cnt ON cnt.o_custkey = c.c_custkey
        WHERE CAST(c.c_acctbal AS DECIMAL(18,4)) * nav.n > nav.s
          AND COALESCE(cnt.n_orders, 0) < 8"""
    sql["q2_min_cost_supplier"] = """
        WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        j AS (
          SELECT p.p_partkey, p.p_name, s.s_name, s.s_acctbal, s.s_nationkey,
                 ROW_NUMBER() OVER (PARTITION BY p.p_partkey
                                    ORDER BY s.s_acctbal, s.s_suppkey) AS rn
          FROM ps
          JOIN part p ON p.p_partkey = ps.l_partkey
          JOIN supplier s ON s.s_suppkey = ps.l_suppkey
          WHERE p.p_size BETWEEN 30 AND 40
        )
        SELECT j.p_partkey, j.p_name, j.s_name, j.s_acctbal, n.n_name
        FROM j JOIN nation n ON n.n_nationkey = j.s_nationkey
        WHERE j.rn = 1"""
    sql["q8_market_share"] = """
        WITH agg AS (
          SELECT YEAR(o.o_orderdate) AS o_year,
                 SUM(CASE WHEN ns.n_name = 'NATION_3'
                     THEN CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))
                     ELSE 0 END) AS n,
                 SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                     * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))) AS d
          FROM lineitem l
          JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN orders o ON o.o_orderkey = l.l_orderkey
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation nc ON nc.n_nationkey = c.c_nationkey
          JOIN region r ON r.r_regionkey = nc.n_regionkey AND r.r_name = 'ASIA'
          JOIN nation ns ON ns.n_nationkey = s.s_nationkey
          GROUP BY YEAR(o.o_orderdate)
        )
        SELECT o_year,
               CAST((CAST(n * 100000000 AS HUGEINT) * 10000)
                    // CAST(d * 100000000 AS HUGEINT) AS BIGINT) AS share_bp,
               CAST(CAST(n AS VARCHAR) AS DOUBLE) AS nation_volume,
               CAST(CAST(d AS VARCHAR) AS DOUBLE) AS total_volume
        FROM agg"""
    sql["q9_product_profit"] = """
        SELECT ns.n_name AS nation, YEAR(o.o_orderdate) AS o_year,
               CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                        * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))
                        - CAST(p.p_retailprice AS DECIMAL(18,4))
                          * CAST(l.l_quantity AS DECIMAL(18,4))
                          * CAST(0.5 AS DECIMAL(2,1))) AS VARCHAR) AS DOUBLE) AS profit,
               COUNT(*) AS n_items
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%widget%'
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN nation ns ON ns.n_nationkey = s.s_nationkey
        GROUP BY ns.n_name, YEAR(o.o_orderdate)"""
    sql["q11_part_concentration"] = """
        WITH per_part AS (
          SELECT l_partkey,
                 SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                     * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS rev
          FROM lineitem GROUP BY l_partkey
        ), t AS (SELECT SUM(rev) AS tot, COUNT(*) AS np FROM per_part)
        SELECT p.p_partkey, p.p_name, CAST(CAST(pp.rev AS VARCHAR) AS DOUBLE) AS revenue
        FROM per_part pp JOIN part p ON p.p_partkey = pp.l_partkey
        WHERE CAST(pp.rev * 100000000 AS HUGEINT) * (SELECT np FROM t) * 2
            > CAST((SELECT tot FROM t) * 100000000 AS HUGEINT) * 3"""
    sql["q12_priority_by_status"] = """
        SELECT l.l_linestatus,
               CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
                   THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
                   THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE YEAR(l.l_shipdate) = 1998
        GROUP BY l.l_linestatus"""
    sql["q14_promo_share"] = """
        WITH agg AS (
          SELECT SUM(CASE WHEN p.p_type = 'PROMO'
                     THEN CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))
                     ELSE 0 END) AS n,
                 SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                     * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))) AS d
          FROM lineitem l
          JOIN part p ON p.p_partkey = l.l_partkey
          WHERE l.l_shipdate >= TIMESTAMP '1998-03-01'
            AND l.l_shipdate <  TIMESTAMP '1998-04-01'
        )
        SELECT CAST((CAST(n * 100000000 AS HUGEINT) * 10000)
                    // CAST(d * 100000000 AS HUGEINT) AS BIGINT) AS promo_share_bp,
               CAST(CAST(n AS VARCHAR) AS DOUBLE) AS promo_revenue,
               CAST(CAST(d AS VARCHAR) AS DOUBLE) AS total_revenue
        FROM agg"""
    sql["q15_top_supplier"] = """
        WITH per_supp AS (
          SELECT l_suppkey,
                 SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                     * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS rev
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            AND l_shipdate <  TIMESTAMP '1997-04-01'
          GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, CAST(CAST(ps.rev AS VARCHAR) AS DOUBLE) AS total_revenue
        FROM per_supp ps JOIN supplier s ON s.s_suppkey = ps.l_suppkey
        WHERE ps.rev = (SELECT MAX(rev) FROM per_supp)"""
    sql["q16_supplier_count"] = """
        WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        SELECT p.p_brand, p.p_type, p.p_size,
               COUNT(DISTINCT ps.l_suppkey) AS supplier_cnt
        FROM ps
        JOIN part p ON p.p_partkey = ps.l_partkey
        WHERE p.p_brand <> 'Brand#13' AND p.p_size <= 25
          AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p.p_brand, p.p_type, p.p_size"""
    sql["q20_heavy_shippers"] = """
        WITH sp AS (
          SELECT l.l_partkey, l.l_suppkey,
                 SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS q
          FROM lineitem l
          JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%bolt%'
          WHERE YEAR(l.l_shipdate) = 1997
          GROUP BY l.l_partkey, l.l_suppkey
        ), per_part AS (
          SELECT l_partkey, SUM(q) AS tot, COUNT(*) AS n FROM sp GROUP BY l_partkey
        )
        SELECT s.s_suppkey, s.s_name, s.s_acctbal, nn.n_name
        FROM supplier s
        JOIN nation nn ON nn.n_nationkey = s.s_nationkey
        WHERE s.s_suppkey IN (
          SELECT sp.l_suppkey FROM sp
          JOIN per_part pp ON pp.l_partkey = sp.l_partkey
          WHERE sp.q * pp.n * 2 > pp.tot * 3
        )"""
    sql["q21_sole_returners"] = """
        WITH l1 AS (
          SELECT DISTINCT l.l_orderkey, l.l_suppkey
          FROM lineitem l
          WHERE l.l_returnflag = 'R'
            AND EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F')
        ), waited AS (
          SELECT l1.l_orderkey, l1.l_suppkey FROM l1
          WHERE EXISTS (SELECT 1 FROM lineitem l2
                        WHERE l2.l_orderkey = l1.l_orderkey
                          AND l2.l_suppkey <> l1.l_suppkey)
            AND NOT EXISTS (SELECT 1 FROM lineitem l3
                            WHERE l3.l_orderkey = l1.l_orderkey
                              AND l3.l_suppkey <> l1.l_suppkey
                              AND l3.l_returnflag = 'R')
        )
        SELECT s.s_suppkey, s.s_name, COUNT(*) AS numwait
        FROM waited w JOIN supplier s ON s.s_suppkey = w.l_suppkey
        GROUP BY s.s_suppkey, s.s_name
        ORDER BY numwait DESC, s.s_suppkey LIMIT 25"""
    sql["bm25_search_docs"] = """
        WITH q(query_id, query) AS (VALUES
          ('q1', 'spark join performance'),
          ('q2', 'slow merge batch'),
          ('q3', 'window sort hash')),
        base AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS toks
          FROM documents),
        stats AS (SELECT COUNT(*) AS n, SUM(len(toks)) AS sl FROM base),
        qt AS (
          SELECT query_id,
                 unnest(list_distinct(list_filter(
                   regexp_split_to_array(lower(query), '[^a-z0-9]+'),
                   t -> t <> ''))) AS term
          FROM q),
        toks AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM base),
        posting AS (
          SELECT doc_id, term, dl, COUNT(*) AS tf
          FROM toks WHERE term IN (SELECT DISTINCT term FROM qt)
          GROUP BY doc_id, term, dl),
        dft AS (SELECT term, COUNT(*) AS dfreq FROM posting GROUP BY term),
        scored AS (
          SELECT qt.query_id, p.doc_id,
                 ROUND(SUM(CAST(
                   ln(CAST(1.0 AS DOUBLE)
                      + ((s.n - d.dfreq) + CAST(0.5 AS DOUBLE))
                        / (d.dfreq + CAST(0.5 AS DOUBLE)))
                   * (p.tf * CAST(2.2 AS DOUBLE)
                      / (p.tf + CAST(1.2 AS DOUBLE)
                         * (CAST(0.25 AS DOUBLE)
                            + CAST(0.75 AS DOUBLE) * p.dl
                              / (CAST(s.sl AS DOUBLE) / CAST(s.n AS DOUBLE)))))
                 AS DECIMAL(28,12))), 6) AS score_dec
          FROM posting p
          JOIN dft d ON d.term = p.term
          JOIN qt ON qt.term = p.term
          CROSS JOIN stats s
          GROUP BY qt.query_id, p.doc_id)
        SELECT query_id, doc_id, rank, CAST(score_dec AS DOUBLE) AS score
        FROM (
          SELECT query_id, doc_id, score_dec,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY score_dec DESC, doc_id) AS rank
          FROM scored)
        WHERE rank <= 5"""
    sql["corpus_split_exact"] = """
        WITH r AS (
          SELECT doc_id, lang,
                 ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(concat_ws('|', 'split', CAST(doc_id AS VARCHAR))),
                            concat_ws('|', 'split', CAST(doc_id AS VARCHAR))) AS rnk,
                 COUNT(*) OVER (PARTITION BY lang) AS n
          FROM documents)
        SELECT doc_id, lang,
               CASE WHEN rnk * 20 <= n * 18 THEN 'train'
                    WHEN rnk * 20 <= n * 19 THEN 'val'
                    ELSE 'test' END AS split
        FROM r"""
    sql["events_skew_profile"] = """
        WITH per_key AS (
          SELECT user_id, COUNT(*) AS n_rows FROM events GROUP BY user_id
        ), t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total_rows,
                        COUNT(*) AS n_keys FROM per_key),
        ranked AS (
          SELECT user_id, n_rows,
                 ROW_NUMBER() OVER (ORDER BY n_rows DESC, user_id) AS rank
          FROM per_key
        )
        SELECT r.user_id, r.rank, r.n_rows,
               CAST(r.n_rows * 10000 // t.total_rows AS BIGINT) AS share_bp,
               CAST(SUM(r.n_rows) OVER (ORDER BY r.n_rows DESC, r.user_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    * 10000 // t.total_rows AS BIGINT) AS cum_share_bp,
               t.total_rows, t.n_keys
        FROM ranked r CROSS JOIN t
        WHERE r.rank <= 20"""
    sql["corpus_length_quantiles"] = """
        SELECT lang, COUNT(n_chars) AS n,
               quantile_cont(n_chars, 0.5) AS p50,
               quantile_cont(n_chars, 0.9) AS p90,
               quantile_cont(n_chars, 0.99) AS p99
        FROM documents GROUP BY lang"""
    sql["events_pivot_by_type"] = """
        WITH c AS (
          SELECT user_id,
                 CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
                 CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
                 CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
                 CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
                 CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
                 SUM(CASE WHEN event_type = 'purchase'
                     THEN CAST(value AS DECIMAL(18,4)) ELSE 0 END) AS pv
          FROM events GROUP BY user_id)
        SELECT user_id, n_click, n_view, n_purchase, n_signup, n_error,
               CAST(CAST(pv AS VARCHAR) AS DOUBLE) AS purchase_value
        FROM c"""
    sql["events_funnel"] = """
        WITH e AS (
          SELECT user_id, epoch_ns(ts) AS ns, event_type, event_id FROM events
        ), w1 AS (
          SELECT user_id, ns, event_type, event_id,
                 MIN(CASE WHEN event_type = 'view' THEN ns END) OVER
                   (PARTITION BY user_id ORDER BY ns, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t1
          FROM e
        ), w2 AS (
          SELECT *, MIN(CASE WHEN event_type = 'click' AND t1 IS NOT NULL
                        THEN ns END) OVER
                   (PARTITION BY user_id ORDER BY ns, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t2
          FROM w1
        ), w3 AS (
          SELECT *, MIN(CASE WHEN event_type = 'purchase' AND t2 IS NOT NULL
                        THEN ns END) OVER
                   (PARTITION BY user_id ORDER BY ns, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t3
          FROM w2
        )
        SELECT user_id, MIN(t1) AS step1_ts, MIN(t2) AS step2_ts,
               MIN(t3) AS step3_ts,
               CAST((CASE WHEN MIN(t1) IS NOT NULL THEN 1 ELSE 0 END)
                  + (CASE WHEN MIN(t2) IS NOT NULL THEN 1 ELSE 0 END)
                  + (CASE WHEN MIN(t3) IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS reached
        FROM w3 GROUP BY user_id"""
    sql["events_stream_funnel"] = sql["events_funnel"]
    sql["events_hopping_rollup"] = """
        WITH e AS (
          SELECT epoch_ns(ts) AS ns, event_type,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
          FROM events
        ), w AS (
          SELECT event_type, cents,
                 unnest(generate_series(
                   ns - ns % 900000000000 - 3 * 900000000000,
                   ns - ns % 900000000000, 900000000000)) AS window_start
          FROM e)
        SELECT window_start, event_type,
               COUNT(*) AS n_events, CAST(SUM(cents) AS BIGINT) AS value_cents
        FROM w GROUP BY window_start, event_type"""
    sql["cap_per_source_docs"] = _quality_cte + """
        SELECT doc_id, source, quality FROM (
          SELECT doc_id, source, quality,
                 ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rn
          FROM q
        ) WHERE rn <= 15"""
    sql["events_gap_fill"] = """
        WITH b AS (
          -- ((e % W) + W) % W emulates pmod: DuckDB % truncates toward
          -- zero, so the bare (e - e % W) // W form would shift
          -- pre-epoch timestamps one bucket up vs the Spark side's
          -- exact floor (post-epoch testdata is unaffected)
          SELECT user_id,
                 (epoch_ns(ts) - ((epoch_ns(ts) % 21600000000000) + 21600000000000) % 21600000000000)
                   // 21600000000000 AS bkt,
                 COUNT(*) AS n,
                 CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
          FROM events GROUP BY 1, 2
        ), span AS (
          SELECT user_id, MIN(bkt) AS lo, MAX(bkt) AS hi FROM b GROUP BY 1
        ), grid AS (
          SELECT user_id, unnest(range(lo, hi + 1)) AS bkt FROM span
        ), j AS (
          SELECT g.user_id, g.bkt, b.n, b.cents
          FROM grid g LEFT JOIN b USING (user_id, bkt)
        )
        SELECT user_id, bkt * 21600000000000 AS bucket_start,
               COALESCE(n, 0) AS n_events, cents AS value_cents,
               LAST_VALUE(cents IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY bkt
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS value_cents_filled
        FROM j"""
    sql["events_time_weighted"] = """
        WITH e AS (
          SELECT user_id, epoch_ns(ts) AS t, event_id,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
          FROM events
        ), l AS (
          SELECT user_id, t, c,
                 LEAD(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS tn,
                 LEAD(c) OVER (PARTITION BY user_id ORDER BY t, event_id) AS cn
          FROM e
        ), a AS (
          SELECT user_id,
                 SUM(CAST(c + cn AS HUGEINT) * CAST(tn - t AS HUGEINT)) AS num,
                 MIN(t) AS lo, MAX(t) AS hi, AVG(c) AS mean,
                 COUNT(*) AS n_samples
          FROM l GROUP BY 1
        )
        SELECT user_id,
               ROUND(CASE WHEN hi > lo
                 THEN CAST(CAST(num AS VARCHAR) AS DOUBLE)
                      / (CAST(hi - lo AS DOUBLE) * 2.0)
                 ELSE mean END, 6) AS twa_cents,
               n_samples, hi - lo AS duration
        FROM a"""
    sql["events_cohort_retention"] = """
        WITH e AS (
          -- pmod emulation for exact floor (see events_gap_fill oracle)
          SELECT user_id,
                 (epoch_ns(ts) - ((epoch_ns(ts) % 604800000000000) + 604800000000000) % 604800000000000)
                   // 604800000000000 AS p
          FROM events
        ), f AS (
          SELECT user_id, MIN(p) AS cohort FROM e GROUP BY 1
        ), act AS (
          SELECT DISTINCT user_id, p FROM e
        ), cells AS (
          SELECT cohort, p - cohort AS period_offset, COUNT(*) AS n_active
          FROM act JOIN f USING (user_id) GROUP BY 1, 2
        ), sz AS (
          SELECT cohort, COUNT(*) AS cohort_size FROM f GROUP BY 1
        )
        SELECT cohort * 604800000000000 AS cohort_period, period_offset,
               n_active, cohort_size,
               ROUND(CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE)
                     * 100.0, 4) AS retention_pct
        FROM cells JOIN sz USING (cohort)"""
    sql["docs_cooccurrence"] = """
        WITH toks AS (
          SELECT DISTINCT doc_id AS d,
                 unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                    x -> x <> '')) AS term
          FROM documents
        ), dfreq AS (
          SELECT term, COUNT(*) AS df FROM toks GROUP BY 1
        ), vocab AS (
          SELECT term, df FROM dfreq ORDER BY df DESC, term LIMIT 50
        ), vt AS (
          SELECT t.d, t.term, v.df FROM toks t JOIN vocab v USING (term)
        ), pairs AS (
          SELECT a.term AS t_a, b.term AS t_b,
                 COUNT(*) AS df_ab, MIN(a.df) AS df_a, MIN(b.df) AS df_b
          FROM vt a JOIN vt b ON a.d = b.d AND a.term < b.term
          GROUP BY 1, 2
        ), n AS (
          SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents
        )
        SELECT t_a, t_b, df_ab, df_a, df_b, n_docs,
               ROUND(CAST(n_docs * df_ab AS DOUBLE)
                     / CAST(df_a * df_b AS DOUBLE), 6) AS lift
        FROM pairs, n
        ORDER BY df_ab DESC, t_a, t_b LIMIT 100"""
    sql["events_ewma_value"] = """
        SELECT user_id, COUNT(value) AS n,
               list_reduce(
                 list(CAST(value AS DOUBLE) ORDER BY epoch_ns(ts), event_id)
                   FILTER (WHERE value IS NOT NULL),
                 (acc, x) -> acc * CAST(0.7 AS DOUBLE)
                           + x * CAST(0.3 AS DOUBLE)) AS ewma
        FROM events GROUP BY user_id"""
    sql["events_snapshot_latest"] = """
        SELECT user_id, event_id, epoch_ns(ts) AS ts, event_type FROM (
          SELECT user_id, event_id, ts, event_type,
                 ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY epoch_ns(ts) DESC, event_id DESC
                 ) AS rn
          FROM events
        ) WHERE rn = 1"""
    sql["events_interval_join"] = """
        WITH li AS (
          SELECT user_id,
                 (epoch_ns(ts) - ((epoch_ns(ts) % 21600000000000) + 21600000000000) % 21600000000000)
                   // 21600000000000 AS bkt,
                 MIN(epoch_ns(ts)) AS a_start,
                 MAX(epoch_ns(ts)) + 1 AS a_end
          FROM events GROUP BY 1, 2
        ), ri AS (
          SELECT user_id, event_id AS purchase_id,
                 epoch_ns(ts) - 1800000000000 AS p_start,
                 epoch_ns(ts) + 1800000000000 AS p_end
          FROM events WHERE event_type = 'purchase'
        )
        SELECT li.user_id, li.bkt, li.a_start, li.a_end,
               ri.purchase_id AS purchase_id_r,
               ri.p_start AS p_start_r, ri.p_end AS p_end_r
        FROM li JOIN ri ON ri.user_id = li.user_id
         AND li.a_start < ri.p_end AND ri.p_start < li.a_end"""
    sql["events_transitions"] = """
        WITH o AS (
          SELECT event_type,
                 LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
                 ) AS prev
          FROM events
        )
        SELECT prev AS from_state, event_type AS to_state, COUNT(*) AS n
        FROM o WHERE prev IS NOT NULL GROUP BY 1, 2"""
    # the streaming twin must count to the identical batch matrix
    sql["events_stream_transitions"] = sql["events_transitions"]
    sql["docs_quantile_buckets"] = """
        SELECT doc_id, lang, n_chars,
               CAST(NTILE(10) OVER (
                 PARTITION BY lang ORDER BY n_chars, doc_id) AS BIGINT) AS bucket
        FROM documents"""
    sql["orders_salted_join"] = """
        SELECT o.o_orderkey, o.o_custkey, c.c_mktsegment
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey"""
    sql["docs_readability"] = """
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS tk,
                 len(list_filter(string_split_regex(text, '[.!?]'), s -> trim(s) <> '')) AS raw_sents
          FROM documents
        ), m AS (
          SELECT doc_id,
                 CAST(len(tk) AS BIGINT) AS n_words,
                 CAST(COALESCE(list_sum(list_transform(tk,
                        w -> greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1))), 0) AS BIGINT) AS syll,
                 CAST(raw_sents AS BIGINT) AS raw_sents
          FROM t
        )
        SELECT doc_id, n_words,
               CAST(CASE WHEN n_words > 0 THEN greatest(raw_sents, 1) ELSE raw_sents END AS BIGINT) AS n_sentences,
               CASE WHEN n_words > 0 THEN syll ELSE 0 END AS n_syllables,
               CASE WHEN n_words > 0 THEN
                 ROUND(206.835
                       - 1.015 * (CAST(n_words AS DOUBLE) / CAST(greatest(raw_sents, 1) AS DOUBLE))
                       - 84.6 * (CAST(syll AS DOUBLE) / CAST(n_words AS DOUBLE)), 6)
               END AS flesch
        FROM m"""
    sql["docs_ngram_stats"] = """
        WITH tok AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS tk
          FROM documents
        ), g AS (
          SELECT doc_id,
                 unnest(CASE WHEN len(tk) >= 2
                        THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])
                        ELSE [] END) AS gram
          FROM tok
        ), pd AS (
          SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2
        )
        SELECT gram, CAST(SUM(c) AS BIGINT) AS tf, CAST(COUNT(*) AS BIGINT) AS df
        FROM pd GROUP BY gram ORDER BY tf DESC, gram LIMIT 50"""
    sql["events_scd2_type"] = """
        WITH e AS (
          SELECT user_id, epoch_ns(ts) AS vf, event_type, event_id FROM events
        ), o AS (
          SELECT user_id, vf, event_type, event_id,
                 LAG(event_type) OVER w AS prev,
                 ROW_NUMBER() OVER w AS rn
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY vf, event_id)
        ), s AS (
          SELECT user_id, vf, event_type, event_id
          FROM o WHERE rn = 1 OR prev IS DISTINCT FROM event_type
        )
        SELECT user_id, vf AS valid_from, event_type,
               LEAD(vf) OVER w2 AS valid_to,
               (LEAD(vf) OVER w2) IS NULL AS is_current
        FROM s
        WINDOW w2 AS (PARTITION BY user_id ORDER BY vf, event_id)"""
    sql["docs_winsorize_len"] = """
        WITH b AS (
          SELECT lang, quantile_cont(n_chars, 0.05) AS lo,
                 quantile_cont(n_chars, 0.95) AS hi
          FROM documents GROUP BY lang
        )
        SELECT d.doc_id, d.lang, d.n_chars,
               LEAST(GREATEST(CAST(d.n_chars AS DOUBLE), b.lo), b.hi) AS n_chars_w
        FROM documents d JOIN b USING (lang)"""
    sql["events_streaks"] = """
        WITH pb AS (
          SELECT user_id,
                 (epoch_ns(ts) - ((epoch_ns(ts) % 21600000000000) + 21600000000000) % 21600000000000)
                   // 21600000000000 AS bkt,
                 COUNT(*) AS n
          FROM events GROUP BY 1, 2
        ), isl AS (
          SELECT user_id, bkt, n,
                 bkt - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY bkt) AS g
          FROM pb
        )
        SELECT user_id,
               CAST(MIN(bkt) * 21600000000000 AS BIGINT) AS streak_start,
               CAST(MAX(bkt) * 21600000000000 AS BIGINT) AS streak_end,
               COUNT(*) AS n_buckets,
               CAST(SUM(n) AS BIGINT) AS n_events
        FROM isl GROUP BY user_id, g
        HAVING COUNT(*) >= 2"""
    _attr_base = """
        WITH conv AS (
          SELECT user_id, event_id, epoch_ns(ts) AS cts
          FROM events WHERE event_type = 'purchase'
        ), tch AS (
          SELECT user_id, epoch_ns(ts) AS tts, event_type AS tty, event_id AS tid
          FROM events WHERE event_type IN ('click', 'view')
        )
        SELECT user_id, conversion_ts, event_id, touch_ts, touch_type, lag_ns
        FROM (
          SELECT c.user_id, c.cts AS conversion_ts, c.event_id,
                 t.tts AS touch_ts, t.tty AS touch_type,
                 c.cts - t.tts AS lag_ns,
                 ROW_NUMBER() OVER (
                   PARTITION BY c.user_id, c.event_id
                   ORDER BY {order}
                 ) AS rn
          FROM conv c LEFT JOIN tch t
            ON t.user_id = c.user_id
           AND t.tts <= c.cts AND t.tts >= c.cts - 86400000000000
        ) WHERE rn = 1"""
    sql["events_attribution_last"] = _attr_base.format(
        order="t.tts DESC NULLS LAST, t.tid DESC"
    )
    sql["events_attribution_first"] = _attr_base.format(
        order="t.tts ASC NULLS LAST, t.tid ASC"
    )
    sql["events_heavy_hitters"] = """
        WITH counts AS (
          SELECT user_id, CAST(event_type AS VARCHAR) AS v, COUNT(*) AS n
          FROM events GROUP BY 1, 2
        ), ranked AS (
          SELECT user_id, v, n,
                 ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n DESC, v) AS rk,
                 CAST(SUM(n) OVER (PARTITION BY user_id) AS BIGINT) AS tot
          FROM counts
        ), head AS (
          SELECT user_id, v AS value, CAST(rk AS BIGINT) AS rank,
                 n AS n_rows, tot
          FROM ranked WHERE rk <= 3
        ), tail AS (
          SELECT user_id, '__other__' AS value, CAST(4 AS BIGINT) AS rank,
                 CAST(SUM(n) AS BIGINT) AS n_rows, MAX(tot) AS tot
          FROM ranked WHERE rk > 3 GROUP BY user_id
        ), u AS (
          SELECT * FROM head UNION ALL SELECT * FROM tail
        )
        SELECT user_id, value, rank, n_rows,
               CAST(n_rows * 10000 // tot AS BIGINT) AS share_bp
        FROM u"""
    # the streaming twin must reproduce the batch heavy-hitters table
    sql["events_stream_heavy_hitters"] = sql["events_heavy_hitters"]
    sql["events_value_outliers"] = """
        WITH e AS (
          SELECT event_id, event_type,
                 CAST(FLOOR(value * 100 + 0.5) AS HUGEINT) AS x
          FROM events
        ), m AS (
          SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
                 SUM(x) AS s, SUM(x * x) AS ss
          FROM e GROUP BY 1
        )
        SELECT e.event_id, e.event_type,
               CASE WHEN m.n > 1 AND (m.n * m.ss - m.s * m.s) > 0
                         AND (e.x * m.n - m.s) * (e.x * m.n - m.s) * 10000 * (m.n - 1)
                             > 90000 * m.n * (m.n * m.ss - m.s * m.s)
                    THEN true ELSE false END AS is_outlier
        FROM e JOIN m USING (event_type)"""
    sql["events_json_props"] = """
        WITH e AS (
          SELECT event_type,
                 TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          FROM events
        )
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(k) AS BIGINT) AS sum_k,
               MAX(k) AS max_k,
               CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
        FROM e GROUP BY event_type"""
    sql["events_melt_pivot"] = """
        WITH c AS (
          SELECT user_id,
                 CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
                 CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
                 CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
                 CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
                 CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
          FROM events GROUP BY user_id)
        SELECT user_id, 'n_click' AS metric, n_click AS n FROM c
        UNION ALL SELECT user_id, 'n_view', n_view FROM c
        UNION ALL SELECT user_id, 'n_purchase', n_purchase FROM c
        UNION ALL SELECT user_id, 'n_signup', n_signup FROM c
        UNION ALL SELECT user_id, 'n_error', n_error FROM c"""
    sql["orders_cube_status_priority"] = """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_price,
               CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)"""
    sql["docs_tfdf_keywords"] = """
        WITH tok AS (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')) AS term
          FROM documents
        ), pd AS (
          SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2
        ), dft AS (
          SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM pd GROUP BY 1
        ), nd AS (
          SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM documents
        ), s AS (
          SELECT pd.doc_id, pd.term, pd.tf, dft.df,
                 CAST(pd.tf * ((nd.n * 1000000) // dft.df) AS BIGINT) AS score
          FROM pd JOIN dft USING (term) CROSS JOIN nd
        )
        SELECT doc_id, term, tf, df, score, rank FROM (
          SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rank
          FROM s
        ) WHERE rank <= 3"""
    sql["docs_ngram_jaccard"] = f"""
        WITH ranked AS (
          SELECT doc_id, ROW_NUMBER() OVER (
            ORDER BY lower(substring(coalesce(text, ''), 1, 12)), doc_id) AS rnk
          FROM documents
        ), pairs AS (
          SELECT LEAST(a.doc_id, b.doc_id) AS id_a,
                 GREATEST(a.doc_id, b.doc_id) AS id_b
          FROM ranked a JOIN ranked b ON b.rnk > a.rnk AND b.rnk - a.rnk <= 2
        ), sh AS (
          SELECT doc_id, {shingles3} AS s FROM documents
        )
        SELECT p.id_a, p.id_b,
               CAST(CASE WHEN len(list_distinct(list_concat(sa.s, sb.s))) > 0
                    THEN len(list_intersect(sa.s, sb.s)) * 10000
                         // len(list_distinct(list_concat(sa.s, sb.s)))
                    ELSE 0 END AS BIGINT) AS jaccard_bp
        FROM pairs p
        JOIN sh sa ON sa.doc_id = p.id_a
        JOIN sh sb ON sb.doc_id = p.id_b"""
    sql["events_value_histogram"] = """
        WITH b AS (
          SELECT event_type,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
          FROM events WHERE value IS NOT NULL
        ), g AS (
          SELECT event_type,
                 c - ((c % 25) + 25) % 25 AS bin_lo,
                 CAST(COUNT(*) AS BIGINT) AS n_rows
          FROM b GROUP BY 1, 2
        )
        SELECT event_type, bin_lo, n_rows,
               CAST(n_rows * 10000 // SUM(n_rows) OVER (PARTITION BY event_type)
                    AS BIGINT) AS share_bp
        FROM g"""
    sql["events_mad_outliers"] = """
        WITH med AS (
          SELECT event_type,
                 quantile_cont(CAST(value AS DOUBLE), 0.5) AS m
          FROM events GROUP BY 1
        ), dev AS (
          SELECT e.event_id, e.event_type,
                 CAST(e.value AS DOUBLE) AS v,
                 ABS(CAST(e.value AS DOUBLE) - med.m) AS d
          FROM events e JOIN med
            ON e.event_type IS NOT DISTINCT FROM med.event_type
        ), mad AS (
          SELECT event_type, quantile_cont(d, 0.5) AS mad FROM dev GROUP BY 1
        )
        SELECT dev.event_id, dev.event_type,
               CASE WHEN dev.v IS NULL THEN false
                    WHEN dev.d * 100.0 > 300.0 * mad.mad THEN true
                    ELSE false END AS is_outlier
        FROM dev JOIN mad
          ON dev.event_type IS NOT DISTINCT FROM mad.event_type"""
    sql["events_running_totals"] = """
        WITH c AS (
          SELECT user_id, event_id, epoch_ns(ts) AS tns,
                 COALESCE(CAST(FLOOR(value * 100 + 0.5) AS BIGINT), 0) AS cent
          FROM events
        ), r AS (
          SELECT user_id, event_id,
                 SUM(cent) OVER (
                   PARTITION BY user_id ORDER BY tns, event_id
                   ROWS UNBOUNDED PRECEDING) AS cum_value,
                 SUM(cent) OVER (PARTITION BY user_id) AS tot
          FROM c
        )
        SELECT user_id, event_id, CAST(cum_value AS BIGINT) AS cum_value,
               CASE WHEN tot != 0
                    THEN CAST(cum_value * 10000 // tot AS BIGINT) END AS cum_share_bp
        FROM r"""
    sql["orders_data_diff"] = """
        WITH o AS (
          SELECT o_orderkey, o_orderstatus, o_totalprice
          FROM orders WHERE o_orderkey % 7 != 0
        ), n AS (
          SELECT o_orderkey, o_orderstatus,
                 CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2.0
                      ELSE o_totalprice END AS o_totalprice
          FROM orders WHERE o_orderkey % 5 != 0
        ), j AS (
          SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
                 o.o_orderkey IS NULL AS is_add,
                 n.o_orderkey IS NULL AS is_rem,
                 o.o_orderstatus IS DISTINCT FROM n.o_orderstatus AS ds,
                 o.o_totalprice IS DISTINCT FROM n.o_totalprice AS dp
          FROM o FULL OUTER JOIN n USING (o_orderkey)
        )
        SELECT o_orderkey,
               CASE WHEN is_add THEN 'added' WHEN is_rem THEN 'removed'
                    WHEN ds OR dp THEN 'changed' ELSE 'unchanged' END AS diff_status,
               CASE WHEN NOT is_add AND NOT is_rem AND (ds OR dp)
                    THEN concat_ws(',',
                         CASE WHEN ds THEN 'o_orderstatus' END,
                         CASE WHEN dp THEN 'o_totalprice' END)
                    ELSE '' END AS changed_cols
        FROM j"""
    sql["nation_supplier_concat"] = """
        SELECT s_nationkey,
               CAST(COUNT(DISTINCT s_name) AS BIGINT) AS n_values,
               array_to_string(list_sort(list(DISTINCT s_name))[1:5], ',') AS joined
        FROM supplier GROUP BY s_nationkey"""
    sql["events_time_profile"] = """
        WITH e AS (
          SELECT event_type, epoch_ns(ts) AS t,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cent
          FROM events
        ), f AS (
          SELECT event_type, cent,
                 (t - ((t % 86400000000000) + 86400000000000) % 86400000000000)
                   // 86400000000000 AS days,
                 (((t % 86400000000000) + 86400000000000) % 86400000000000)
                   // 3600000000000 AS hod
          FROM e
        )
        SELECT event_type,
               CAST((((days + 3) % 7) + 7) % 7 AS BIGINT) AS dow,
               CAST(hod AS BIGINT) AS hod,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(cent) AS BIGINT) AS cents
        FROM f GROUP BY 1, 2, 3"""
    sql["events_ewma_bucketed"] = """
        WITH v AS (
          SELECT user_id,
                 (epoch_ns(ts) - ((epoch_ns(ts) % 21600000000000) + 21600000000000) % 21600000000000)
                   // 21600000000000 AS bkt,
                 list(CAST(value AS DOUBLE) ORDER BY epoch_ns(ts), event_id)
                   FILTER (WHERE value IS NOT NULL) AS vals,
                 COUNT(value) AS m
          FROM events GROUP BY 1, 2
        ), b AS (
          SELECT user_id, bkt, m,
                 list_reduce(list_prepend(CAST(1.0 AS DOUBLE), vals),
                             (acc, x) -> acc * 0.7) AS am,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vals),
                             (acc, x) -> acc * 0.7 + x * 0.3) AS bm,
                 CASE WHEN m > 0
                      THEN list_reduce(vals, (acc, x) -> acc * 0.7 + x * 0.3)
                 END AS sm
          FROM v
        )
        SELECT user_id, CAST(SUM(m) AS BIGINT) AS n,
               struct_extract(
                 list_reduce(
                   list_prepend(
                     {'am': CAST(NULL AS DOUBLE), 'bm': CAST(NULL AS DOUBLE),
                      'sm': CAST(NULL AS DOUBLE)},
                     list({'am': am, 'bm': bm, 'sm': sm} ORDER BY bkt)
                       FILTER (WHERE m > 0)
                   ),
                   (acc, x) -> {'am': CAST(1.0 AS DOUBLE), 'bm': CAST(0.0 AS DOUBLE),
                                'sm': CASE WHEN struct_extract(acc, 'am') IS NULL
                                           THEN struct_extract(x, 'sm')
                                           ELSE struct_extract(x, 'am') * struct_extract(acc, 'sm')
                                                + struct_extract(x, 'bm') END}
                 ), 'sm') AS ewma
        FROM b GROUP BY user_id"""
    sql["docs_profile"] = """
        WITH w AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
            CAST(COUNT(*) - COUNT(doc_id) AS BIGINT) AS null_doc_id,
            CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS dist_doc_id,
            CAST(COUNT(*) - COUNT(text) AS BIGINT) AS null_text,
            CAST(COUNT(DISTINCT text) AS BIGINT) AS dist_text,
            CAST(COUNT(*) - COUNT(lang) AS BIGINT) AS null_lang,
            CAST(COUNT(DISTINCT lang) AS BIGINT) AS dist_lang,
            CAST(COUNT(*) - COUNT(source) AS BIGINT) AS null_source,
            CAST(COUNT(DISTINCT source) AS BIGINT) AS dist_source,
            CAST(COUNT(*) - COUNT(n_chars) AS BIGINT) AS null_n_chars,
            CAST(COUNT(DISTINCT n_chars) AS BIGINT) AS dist_n_chars
          FROM documents
        )
        SELECT 'doc_id' AS column, n_rows, null_doc_id AS n_null, dist_doc_id AS n_distinct FROM w
        UNION ALL SELECT 'text', n_rows, null_text, dist_text FROM w
        UNION ALL SELECT 'lang', n_rows, null_lang, dist_lang FROM w
        UNION ALL SELECT 'source', n_rows, null_source, dist_source FROM w
        UNION ALL SELECT 'n_chars', n_rows, null_n_chars, dist_n_chars FROM w"""
    sql["orders_constraints"] = """
        WITH w AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_checked,
            CAST(COALESCE(SUM(CASE WHEN COALESCE(o_totalprice > 0, false) THEN 0 ELSE 1 END), 0) AS BIGINT) AS v_price,
            CAST(COALESCE(SUM(CASE WHEN COALESCE(o_orderstatus IN ('F', 'O', 'P'), false) THEN 0 ELSE 1 END), 0) AS BIGINT) AS v_status,
            CAST(COALESCE(SUM(CASE WHEN COALESCE(o_orderpriority LIKE '%-%', false) THEN 0 ELSE 1 END), 0) AS BIGINT) AS v_prio
          FROM orders
        )
        SELECT 'price_positive' AS constraint_name, n_checked, v_price AS n_violations FROM w
        UNION ALL SELECT 'status_known', n_checked, v_status FROM w
        UNION ALL SELECT 'priority_prefixed', n_checked, v_prio FROM w"""
    sql["lineitem_fk_orphans"] = """
        SELECT l_orderkey, l_linenumber, l_quantity
        FROM lineitem l
        WHERE NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_orderkey = l.l_orderkey AND o.o_orderkey % 97 != 0
        )"""
    sql["events_stream_histogram"] = """
        WITH b AS (
          SELECT event_type,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
          FROM events WHERE value IS NOT NULL
        ), g AS (
          SELECT event_type,
                 c - ((c % 25) + 25) % 25 AS bin_lo,
                 CAST(COUNT(*) AS BIGINT) AS n_rows
          FROM b GROUP BY 1, 2
        )
        SELECT event_type, bin_lo, n_rows,
               CAST(n_rows * 10000 // SUM(n_rows) OVER (PARTITION BY event_type)
                    AS BIGINT) AS share_bp
        FROM g"""
    sql["events_stream_running_totals"] = """
        SELECT user_id, event_id,
               CAST(SUM(COALESCE(CAST(FLOOR(value * 100 + 0.5) AS BIGINT), 0)) OVER (
                 PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_value
        FROM events"""
    sql["events_active_users"] = """
        WITH ud AS (
          SELECT DISTINCT user_id AS u,
                 (epoch_ns(ts) - ((epoch_ns(ts) % 86400000000000) + 86400000000000) % 86400000000000)
                   // 86400000000000 AS d
          FROM events WHERE ts IS NOT NULL
        ), ex AS (
          SELECT ud.u, t.off, ud.d + t.off AS day
          FROM ud, (SELECT UNNEST(range(0, 30)) AS off) t
        ), c AS (
          SELECT day,
                 COUNT(DISTINCT CASE WHEN off < 1 THEN u END) AS au_1d,
                 COUNT(DISTINCT CASE WHEN off < 7 THEN u END) AS au_7d,
                 COUNT(DISTINCT CASE WHEN off < 30 THEN u END) AS au_30d
          FROM ex GROUP BY day
        )
        SELECT CAST(day AS BIGINT) AS day,
               CAST(au_1d AS BIGINT) AS au_1d,
               CAST(au_7d AS BIGINT) AS au_7d,
               CAST(au_30d AS BIGINT) AS au_30d
        FROM c WHERE day IN (SELECT d FROM ud)"""
    sql["docs_pps_sample"] = """
        WITH c AS (
          SELECT lang, doc_id,
                 COALESCE(CAST(FLOOR(n_chars * 100 + 0.5) AS BIGINT), 0) AS cent
          FROM documents
        ), r AS (
          SELECT lang, doc_id, cent,
                 SUM(cent) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum,
                 SUM(cent) OVER (PARTITION BY lang) AS tot
          FROM c
        )
        SELECT lang, doc_id,
               CAST(cum * 20 // tot - (cum - cent) * 20 // tot AS BIGINT) AS n_copies
        FROM r
        WHERE tot > 0 AND cum * 20 // tot - (cum - cent) * 20 // tot > 0"""
    sql["docs_percentile_normalize"] = """
        WITH r AS (
          SELECT doc_id, lang, source, n_chars,
                 RANK() OVER (PARTITION BY lang, source
                              ORDER BY n_chars ASC NULLS LAST) AS rk,
                 COUNT(n_chars) OVER (PARTITION BY lang, source) AS n
          FROM documents
        )
        SELECT doc_id, lang, source,
               CASE WHEN n_chars IS NULL THEN NULL
                    WHEN n > 1 THEN CAST((rk - 1) * 10000 // (n - 1) AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS pct_bp
        FROM r"""
    sql["events_merge_rollup"] = """
        SELECT user_id,
               CAST(COUNT(value) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
               MIN(value) AS min_value,
               MAX(value) AS max_value
        FROM events GROUP BY user_id"""
    sql["orders_apply_cdc"] = """
        WITH base AS (
          SELECT o_orderkey, o_orderstatus, o_totalprice
          FROM orders WHERE o_orderkey % 5 != 0
        ), ch AS (
          SELECT o_orderkey, 1 AS change_ts, 1 AS change_id,
                 CASE WHEN o_orderkey % 15 = 0 THEN 'D' ELSE 'U' END AS op,
                 'X' AS o_orderstatus, o_totalprice * 2.0 AS o_totalprice
          FROM orders WHERE o_orderkey % 3 = 0
          UNION ALL
          SELECT o_orderkey, 2, 2, 'U', 'Y', o_totalprice * 3.0
          FROM orders WHERE o_orderkey % 6 = 0
        ), latest AS (
          SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (
              PARTITION BY o_orderkey ORDER BY change_ts DESC, change_id DESC
            ) AS rn FROM ch
          ) WHERE rn = 1
        )
        SELECT COALESCE(b.o_orderkey, l.o_orderkey) AS o_orderkey,
               CASE WHEN l.o_orderkey IS NOT NULL THEN l.o_orderstatus
                    ELSE b.o_orderstatus END AS o_orderstatus,
               CASE WHEN l.o_orderkey IS NOT NULL THEN l.o_totalprice
                    ELSE b.o_totalprice END AS o_totalprice
        FROM base b FULL OUTER JOIN latest l
          ON b.o_orderkey IS NOT DISTINCT FROM l.o_orderkey
        WHERE l.op IS NULL OR l.op != 'D'"""
    sql["events_state_durations"] = """
        WITH o AS (
          SELECT user_id, event_type,
                 LEAD(epoch_ns(ts)) OVER (
                   PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
                 ) - epoch_ns(ts) AS gap
          FROM events
        )
        SELECT user_id, event_type AS state,
               CAST(COUNT(*) AS BIGINT) AS n_visits,
               CAST(SUM(gap) AS BIGINT) AS total_ns
        FROM o GROUP BY 1, 2"""
    sql["events_debounce"] = """
        WITH o AS (
          SELECT event_id, user_id, epoch_ns(ts) AS tns, event_type,
                 LAG(epoch_ns(ts)) OVER (
                   PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
                 ) AS prev
          FROM events
        )
        SELECT event_id, user_id, tns AS ts, event_type
        FROM o WHERE prev IS NULL OR tns - prev >= 7200000000000"""
    sql["events_throttle"] = """
        WITH o AS (
          SELECT event_id, user_id, epoch_ns(ts) AS tns, event_type,
                 ROW_NUMBER() OVER (
                   PARTITION BY user_id,
                     (epoch_ns(ts) - ((epoch_ns(ts) % 21600000000000) + 21600000000000) % 21600000000000)
                       // 21600000000000
                   ORDER BY epoch_ns(ts), event_id
                 ) AS rn
          FROM events
        )
        SELECT event_id, user_id, tns AS ts, event_type
        FROM o WHERE rn <= 3"""
    sql["events_weighted_quantiles"] = """
        WITH c AS (
          SELECT event_type, value,
                 SUM(CAST(floor(value*100 + 0.5) AS DECIMAL(38,0))) AS w
          FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        ), cum AS (
          SELECT event_type, value,
                 SUM(w) OVER (PARTITION BY event_type ORDER BY value) AS cumw,
                 SUM(w) OVER (PARTITION BY event_type) AS tot
          FROM c
        )
        SELECT event_type, q_bp, MIN(value) AS value
        FROM cum CROSS JOIN (VALUES (2500), (5000), (9000)) qs(q_bp)
        WHERE tot > 0 AND cumw * 10000 >= q_bp * tot
        GROUP BY 1, 2"""
    # DECIMAL // ROUNDS in DuckDB while Spark DIV truncates toward zero
    # — route the slope division through HUGEINT, whose // truncates
    # identically (the proven r6 TPC-H share-query discipline)
    sql["events_trend_fit"] = """
        WITH r AS (
          SELECT event_type, epoch_ns(ts) AS xs,
                 CAST(floor(value*100 + 0.5) AS DECIMAL(38,0)) AS yc
          FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        ), m AS (
          SELECT event_type, MIN(xs) AS minx FROM r GROUP BY 1
        ), s AS (
          SELECT r.event_type,
                 CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
                 SUM(CAST((r.xs - m.minx) // 1000000000 AS DECIMAL(38,0))) AS sx,
                 SUM(r.yc) AS sy,
                 SUM(CAST((r.xs - m.minx) // 1000000000 AS DECIMAL(38,0)) * r.yc) AS sxy,
                 SUM(CAST((r.xs - m.minx) // 1000000000 AS DECIMAL(38,0))
                     * CAST((r.xs - m.minx) // 1000000000 AS DECIMAL(38,0))) AS sxx
          FROM r JOIN m USING (event_type) GROUP BY 1
        )
        SELECT event_type, CAST(n AS BIGINT) AS n,
               CASE WHEN n >= 2 AND (n*sxx - sx*sx) <> 0 THEN
                 CAST(CAST((n*sxy - sx*sy) * 1000000 AS HUGEINT)
                      // CAST(n*sxx - sx*sx AS HUGEINT) AS BIGINT)
               END AS slope_micro
        FROM s"""
    sql["events_benford"] = """
        WITH c AS (
          SELECT regexp_extract(
                   CAST(abs(CAST(floor(value*100 + 0.5) AS BIGINT)) AS VARCHAR),
                   '[1-9]') AS d
          FROM events WHERE value IS NOT NULL
        ), g AS (
          SELECT CAST(d AS INT) AS digit, COUNT(*) AS n_rows
          FROM c WHERE d <> '' GROUP BY 1
        ), t AS (SELECT SUM(n_rows) AS tot FROM g),
        e(digit, expected_bp) AS (VALUES
          (1, 3010), (2, 1761), (3, 1249), (4, 969), (5, 792),
          (6, 669), (7, 580), (8, 512), (9, 458))
        SELECT g.digit, CAST(g.n_rows AS BIGINT) AS n_rows,
               CAST(g.n_rows * 10000 // t.tot AS BIGINT) AS share_bp,
               CAST(e.expected_bp AS BIGINT) AS expected_bp,
               CAST(g.n_rows * 10000 // t.tot - e.expected_bp AS BIGINT) AS deviation_bp
        FROM g CROSS JOIN t JOIN e ON e.digit = g.digit"""
    sql["events_interval_union"] = """
        WITH iv AS (
          SELECT user_id, epoch_ns(ts) AS s,
                 epoch_ns(ts)
                   + CAST(floor(abs(value)*100 + 0.5) AS BIGINT) * 10000000 AS e
          FROM events WHERE value IS NOT NULL
        ), f AS (
          SELECT user_id, s, e,
                 MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
          FROM iv
        ), g AS (
          SELECT user_id, s, e,
                 SUM(CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY s, e
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
          FROM f
        ), isles AS (
          SELECT user_id, isl, COUNT(*) AS n, MIN(s) AS ms, MAX(e) AS me
          FROM g GROUP BY 1, 2
        )
        SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_intervals,
               CAST(COUNT(*) AS BIGINT) AS n_merged,
               CAST(SUM(me - ms) AS BIGINT) AS covered_ns,
               CAST(MAX(me) - MIN(ms) AS BIGINT) AS span_ns
        FROM isles GROUP BY 1"""
    sql["events_session_paths"] = """
        WITH r AS (
          SELECT user_id, event_type,
                 ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS rn
          FROM events
        ), p AS (
          SELECT user_id,
                 string_agg(COALESCE(event_type, 'null'), '>' ORDER BY rn) AS path
          FROM r WHERE rn <= 4 GROUP BY 1
        ), c AS (SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY 1)
        SELECT path, CAST(n_sessions AS BIGINT) AS n_sessions,
               CAST(ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path) AS BIGINT) AS rank
        FROM c ORDER BY n_sessions DESC, path LIMIT 25"""
    sql["events_autocorr"] = """
        WITH v AS (
          SELECT user_id,
                 CAST(floor(value*100 + 0.5) AS DECIMAL(38,0)) AS y,
                 LAG(CAST(floor(value*100 + 0.5) AS DECIMAL(38,0))) OVER (
                   PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS x
          FROM events
        ), s AS (
          SELECT user_id,
                 CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
                 SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x*y) AS sxy, SUM(x*x) AS sxx
          FROM v WHERE x IS NOT NULL AND y IS NOT NULL GROUP BY 1
        )
        SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
               CASE WHEN n >= 2 AND (n*sxx - sx*sx) <> 0 THEN
                 CAST(CAST((n*sxy - sx*sy) * 1000000 AS HUGEINT)
                      // CAST(n*sxx - sx*sx AS HUGEINT) AS BIGINT)
               END AS ar_micro
        FROM s"""
    sql["events_null_runs"] = """
        WITH v AS (
          SELECT user_id, event_id, epoch_ns(ts) AS tns,
                 CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS val
          FROM events
        ), m AS (
          SELECT user_id, (val IS NULL) AS is_n,
                 ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY tns, event_id)
                 - ROW_NUMBER() OVER (
                     PARTITION BY user_id, (val IS NULL) ORDER BY tns, event_id) AS grp
          FROM v
        ), runs AS (
          SELECT user_id, grp, COUNT(*) AS len FROM m WHERE is_n GROUP BY 1, 2
        ), pk AS (
          SELECT user_id, SUM(len) AS n_nulls, COUNT(*) AS n_runs, MAX(len) AS max_run
          FROM runs GROUP BY 1
        )
        SELECT u.user_id,
               CAST(COALESCE(pk.n_nulls, 0) AS BIGINT) AS n_nulls,
               CAST(COALESCE(pk.n_runs, 0) AS BIGINT) AS n_runs,
               CAST(COALESCE(pk.max_run, 0) AS BIGINT) AS max_run
        FROM (SELECT DISTINCT user_id FROM events) u
        LEFT JOIN pk USING (user_id)"""
    sql["events_cusum"] = """
        WITH v AS (
          SELECT user_id, event_id, epoch_ns(ts) AS tns,
                 CAST(floor(value*100 + 0.5) AS DECIMAL(38,0)) AS c
          FROM events
        ), t AS (
          SELECT user_id, event_id, tns, c,
                 CAST(COUNT(c) OVER (PARTITION BY user_id) AS DECIMAL(38,0)) AS n,
                 SUM(c) OVER (PARTITION BY user_id) AS sx
          FROM v
        ), cu AS (
          SELECT user_id, event_id, tns, n,
                 SUM(CASE WHEN c IS NULL THEN CAST(0 AS DECIMAL(38,0))
                          ELSE c * n - sx END)
                   OVER (PARTITION BY user_id ORDER BY tns, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM t
        ), mn AS (
          SELECT user_id, tns, n, cum,
                 MIN(LEAST(cum, CAST(0 AS DECIMAL(38,0))))
                   OVER (PARTITION BY user_id ORDER BY tns, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mncum
          FROM cu
        )
        SELECT user_id, tns AS ts,
               CASE WHEN n > 0 THEN
                 CAST(CAST((cum - mncum) * 1000 AS HUGEINT)
                      // CAST(n * 100 AS HUGEINT) AS BIGINT)
               ELSE CAST(0 AS BIGINT) END AS cusum_milli,
               ((cum - mncum) > n * 5000) AS alarm
        FROM mn"""
    sql["lineitem_basket_pairs"] = """
        WITH bi AS (
          SELECT DISTINCT l.l_orderkey AS bk, CAST(p.p_brand AS VARCHAR) AS it
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ), nb AS (SELECT COUNT(DISTINCT bk) AS n FROM bi),
        cnt AS (SELECT it, COUNT(*) AS n FROM bi GROUP BY 1),
        pr AS (
          SELECT a.it AS item_a, b.it AS item_b, COUNT(*) AS pair_n
          FROM bi a JOIN bi b ON a.bk = b.bk AND a.it < b.it
          GROUP BY 1, 2
        )
        SELECT pr.item_a, pr.item_b, CAST(pair_n AS BIGINT) AS pair_n,
               CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b,
               CAST(pair_n * 10000 // nb.n AS BIGINT) AS support_bp,
               CAST(pair_n * 10000 // ca.n AS BIGINT) AS conf_ab_bp,
               CAST(pair_n * 10000 // cb.n AS BIGINT) AS conf_ba_bp,
               CAST(CAST(pair_n AS HUGEINT) * nb.n * 1000000
                    // (CAST(ca.n AS HUGEINT) * cb.n) AS BIGINT) AS lift_micro
        FROM pr CROSS JOIN nb
        JOIN cnt ca ON ca.it = pr.item_a
        JOIN cnt cb ON cb.it = pr.item_b"""
    sql["events_audience_overlap"] = """
        WITH eg AS (
          SELECT DISTINCT user_id AS en, CAST(event_type AS VARCHAR) AS gr
          FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        ), cnt AS (SELECT gr, COUNT(*) AS n FROM eg GROUP BY 1),
        bo AS (
          SELECT a.gr AS group_a, b.gr AS group_b, COUNT(*) AS n_both
          FROM eg a JOIN eg b ON a.en = b.en AND a.gr < b.gr
          GROUP BY 1, 2
        )
        SELECT ca.gr AS group_a, cb.gr AS group_b,
               CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b,
               CAST(COALESCE(bo.n_both, 0) AS BIGINT) AS n_both,
               CAST(ca.n + cb.n - COALESCE(bo.n_both, 0) AS BIGINT) AS n_either,
               CASE WHEN ca.n + cb.n - COALESCE(bo.n_both, 0) = 0 THEN NULL
                    ELSE CAST(COALESCE(bo.n_both, 0) * 10000
                         // (ca.n + cb.n - COALESCE(bo.n_both, 0)) AS BIGINT)
               END AS jaccard_bp
        FROM cnt ca JOIN cnt cb ON ca.gr < cb.gr
        LEFT JOIN bo ON bo.group_a = ca.gr AND bo.group_b = cb.gr"""
    sql["customer_rfm"] = """
        WITH base AS (
          SELECT o_custkey,
                 MAX(CAST(o_orderdate AS DATE) - DATE '1970-01-01') * 86400 AS recency_ts,
                 COUNT(*) AS frequency,
                 CAST(SUM(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS monetary_cents
          FROM orders GROUP BY 1
        ), s AS (
          SELECT o_custkey, recency_ts, frequency, monetary_cents,
                 NTILE(5) OVER (ORDER BY recency_ts, o_custkey) AS r_score,
                 NTILE(5) OVER (ORDER BY frequency, o_custkey) AS f_score,
                 NTILE(5) OVER (ORDER BY monetary_cents, o_custkey) AS m_score
          FROM base
        )
        SELECT o_custkey, CAST(recency_ts AS BIGINT) AS recency_ts,
               CAST(frequency AS BIGINT) AS frequency, monetary_cents,
               CAST(r_score AS BIGINT) AS r_score,
               CAST(f_score AS BIGINT) AS f_score,
               CAST(m_score AS BIGINT) AS m_score,
               'R' || r_score || 'F' || f_score || 'M' || m_score AS segment
        FROM s"""
    sql["part_fuzzy_names"] = """
        WITH n AS (SELECT DISTINCT p_name AS nm FROM part)
        SELECT a.nm AS id_a, b.nm AS id_b,
               CAST(levenshtein(lower(trim(a.nm)), lower(trim(b.nm))) AS BIGINT)
                 AS distance
        FROM n a JOIN n b ON a.nm < b.nm
         AND right(lower(trim(a.nm)), 4) = right(lower(trim(b.nm)), 4)
         AND abs(length(lower(trim(a.nm))) - length(lower(trim(b.nm)))) <= 2
         AND levenshtein(lower(trim(a.nm)), lower(trim(b.nm))) <= 2"""
    sql["orders_gini"] = """
        WITH x AS (
          SELECT o_orderpriority,
                 CAST(floor(o_totalprice*100 + 0.5) AS DECIMAL(38,0)) AS c,
                 ROW_NUMBER() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY floor(o_totalprice*100 + 0.5)) AS r
          FROM orders WHERE o_totalprice IS NOT NULL
        ), s AS (
          SELECT o_orderpriority, CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
                 SUM(c) AS sx, SUM(CAST(r AS DECIMAL(38,0)) * c) AS srx
          FROM x GROUP BY 1
        )
        SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
               CAST(sx AS BIGINT) AS total_cents,
               CASE WHEN sx > 0 THEN
                 CAST(CAST((2*srx - (n + 1)*sx) * 10000 AS HUGEINT)
                      // CAST(n * sx AS HUGEINT) AS BIGINT)
               END AS gini_bp
        FROM s"""
    sql["part_skyline"] = """
        WITH s AS (
          SELECT p_brand, p_retailprice, p_size, p_partkey,
                 MAX(p_size) OVER (
                   PARTITION BY p_brand
                   ORDER BY p_retailprice ASC, p_size DESC, p_partkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best
          FROM part WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
        )
        SELECT p_brand, p_retailprice, p_size, p_partkey
        FROM s WHERE best IS NULL OR p_size > best"""
    sql["events_pop"] = """
        WITH r AS (
          SELECT event_type,
                 epoch_ns(ts)
                   - ((epoch_ns(ts) % 604800000000000) + 604800000000000)
                     % 604800000000000 AS bucket_ns,
                 CAST(SUM(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cur_cents
          FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
        ), l AS (
          SELECT event_type, bucket_ns, cur_cents,
                 LAG(cur_cents) OVER (
                   PARTITION BY event_type ORDER BY bucket_ns) AS pv,
                 LAG(bucket_ns) OVER (
                   PARTITION BY event_type ORDER BY bucket_ns) AS pb
          FROM r
        )
        SELECT event_type, bucket_ns, cur_cents,
               CASE WHEN pb = bucket_ns - 604800000000000 THEN pv END
                 AS prev_cents,
               cur_cents - CASE WHEN pb = bucket_ns - 604800000000000 THEN pv END
                 AS delta_cents,
               CASE WHEN pb = bucket_ns - 604800000000000
                         AND pv IS NOT NULL AND pv <> 0
                    THEN CAST((cur_cents - pv) * 10000 // pv AS BIGINT)
               END AS pct_change_bp
        FROM l"""
    sql["events_stream_cusum"] = """
        WITH v AS (
          SELECT user_id, event_id, epoch_ns(ts) AS tns,
                 CASE WHEN value IS NULL THEN 0
                      ELSE CAST(floor(value*100 + 0.5) AS BIGINT) - 5000 END AS d
          FROM events
        ), c AS (
          SELECT user_id, event_id, tns,
                 SUM(d) OVER (PARTITION BY user_id ORDER BY tns, event_id
                              ROWS UNBOUNDED PRECEDING) AS cum
          FROM v
        ), m AS (
          SELECT user_id, event_id, cum,
                 MIN(LEAST(cum, 0)) OVER (
                   PARTITION BY user_id ORDER BY tns, event_id
                   ROWS UNBOUNDED PRECEDING) AS mn
          FROM c
        )
        SELECT user_id, event_id,
               CAST(cum - mn AS BIGINT) AS cusum_cents,
               (cum - mn) > 50000 AS alarm
        FROM m"""
    sql["orders_ship_latency"] = """
        SELECT o.o_orderpriority, COUNT(lat) AS n,
               quantile_cont(lat, 0.5) AS p50,
               quantile_cont(lat, 0.9) AS p90,
               quantile_cont(lat, 0.99) AS p99
        FROM (
          SELECT l_orderkey,
                 CAST(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE)
                      AS DOUBLE) AS lat,
                 o_orderpriority
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ) o
        GROUP BY 1"""
    sql["events_seasonal_outliers"] = """
        WITH e AS (
          SELECT event_id, epoch_ns(ts) AS ts, event_type, value,
                 ((((epoch_ns(ts) - ((epoch_ns(ts) % 86400000000000)
                      + 86400000000000) % 86400000000000)
                    // 86400000000000) + 3) % 7 + 7) % 7 AS dow,
                 (((epoch_ns(ts) % 86400000000000) + 86400000000000)
                    % 86400000000000) // 3600000000000 AS hod,
                 CAST(FLOOR(value * 100 + 0.5) AS HUGEINT) AS x
          FROM events
        ), m AS (
          SELECT event_type, dow, hod, CAST(COUNT(*) AS HUGEINT) AS n,
                 SUM(x) AS s, SUM(x * x) AS ss
          FROM e GROUP BY 1, 2, 3
        )
        SELECT e.event_id, e.ts, e.event_type, e.value,
               CAST(e.dow AS BIGINT) AS dow, CAST(e.hod AS BIGINT) AS hod,
               CASE WHEN m.n > 1 AND (m.n * m.ss - m.s * m.s) > 0
                         AND (e.x * m.n - m.s) * (e.x * m.n - m.s) * 10000 * (m.n - 1)
                             > 90000 * m.n * (m.n * m.ss - m.s * m.s)
                    THEN true ELSE false END AS is_outlier
        FROM e JOIN m USING (event_type, dow, hod)"""
    sql["docs_blocker_metrics"] = """
        WITH d AS (
          SELECT doc_id, lower(trim(text)) AS t FROM documents
        ), pred AS (
          SELECT DISTINCT least(CAST(a.doc_id AS VARCHAR), CAST(b.doc_id AS VARCHAR)) AS pa,
                 greatest(CAST(a.doc_id AS VARCHAR), CAST(b.doc_id AS VARCHAR)) AS pb
          FROM d a JOIN d b
            ON substr(a.t, 1, 32) = substr(b.t, 1, 32) AND a.doc_id < b.doc_id
        ), tr AS (
          SELECT DISTINCT least(CAST(a.doc_id AS VARCHAR), CAST(b.doc_id AS VARCHAR)) AS pa,
                 greatest(CAST(a.doc_id AS VARCHAR), CAST(b.doc_id AS VARCHAR)) AS pb
          FROM d a JOIN d b ON a.t = b.t AND a.doc_id < b.doc_id
        ), j AS (
          SELECT COALESCE(pred.pa, tr.pa) AS pa,
                 (pred.pa IS NOT NULL) AS inp, (tr.pa IS NOT NULL) AS intr
          FROM pred FULL OUTER JOIN tr USING (pa, pb)
        ), c AS (
          SELECT CAST(SUM(CASE WHEN inp THEN 1 ELSE 0 END) AS BIGINT) AS n_pred,
                 CAST(SUM(CASE WHEN intr THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
                 CAST(SUM(CASE WHEN inp AND intr THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                 CAST(SUM(CASE WHEN inp AND NOT intr THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                 CAST(SUM(CASE WHEN NOT inp AND intr THEN 1 ELSE 0 END) AS BIGINT) AS fn
          FROM j
        )
        SELECT n_pred, n_true, tp, fp, fn,
               CASE WHEN n_pred = 0 THEN NULL
                    ELSE CAST(tp * 10000 // n_pred AS BIGINT) END AS precision_bp,
               CASE WHEN n_true = 0 THEN NULL
                    ELSE CAST(tp * 10000 // n_true AS BIGINT) END AS recall_bp,
               CASE WHEN 2*tp + fp + fn = 0 THEN NULL
                    ELSE CAST(2 * tp * 10000 // (2*tp + fp + fn) AS BIGINT)
               END AS f1_bp
        FROM c"""
    sql["events_cohort_values"] = """
        WITH b AS (
          SELECT user_id,
                 epoch_ns(ts) - ((epoch_ns(ts) % 604800000000000)
                   + 604800000000000) % 604800000000000 AS bkt,
                 value
          FROM events WHERE ts IS NOT NULL
        ), f AS (
          SELECT user_id, bkt, value,
                 MIN(bkt) OVER (PARTITION BY user_id) AS first_b
          FROM b
        ), r AS (
          SELECT first_b AS cohort_ns, (bkt - first_b) // 604800000000000 AS age,
                 COUNT(DISTINCT user_id) AS n_entities,
                 SUM(COALESCE(CAST(floor(value*100 + 0.5) AS BIGINT), 0)) AS pc
          FROM f GROUP BY 1, 2
        )
        SELECT cohort_ns, CAST(age AS BIGINT) AS age,
               CAST(n_entities AS BIGINT) AS n_entities,
               CAST(pc AS BIGINT) AS period_cents,
               CAST(SUM(pc) OVER (PARTITION BY cohort_ns ORDER BY age
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
        FROM r"""
    sql["events_decade_histogram"] = """
        WITH c AS (
          SELECT event_type, CAST(floor(value*100 + 0.5) AS BIGINT) AS x
          FROM events WHERE value IS NOT NULL
        ), g AS (
          SELECT event_type,
                 CAST(CASE WHEN x > 0 THEN 1 WHEN x < 0 THEN -1 ELSE 0 END AS INT) AS sign,
                 CAST(CASE WHEN x = 0 THEN 0 ELSE length(CAST(abs(x) AS VARCHAR)) END AS BIGINT) AS decade,
                 COUNT(*) AS n_rows
          FROM c GROUP BY 1, 2, 3
        )
        SELECT event_type, sign, decade, CAST(n_rows AS BIGINT) AS n_rows,
               CAST(n_rows * 10000 // SUM(n_rows) OVER (PARTITION BY event_type)
                    AS BIGINT) AS share_bp
        FROM g"""
    sql["events_session_quantiles"] = """
        WITH g AS (
          SELECT user_id, event_id, epoch_ns(ts) AS ns,
                 epoch_ns(ts) // 1000000000 AS e,
                 CASE WHEN LAG(epoch_ns(ts) // 1000000000) OVER w IS NULL
                      OR epoch_ns(ts) // 1000000000
                         - LAG(epoch_ns(ts) // 1000000000) OVER w > 1800
                      THEN 1 ELSE 0 END AS new_s
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), s AS (
          SELECT user_id, e,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY ns, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_id
          FROM g
        ), d AS (
          SELECT CAST(MAX(e) - MIN(e) AS DOUBLE) AS dur_s
          FROM s GROUP BY user_id, session_id
        )
        SELECT COUNT(dur_s) AS n,
               quantile_cont(dur_s, 0.5) AS p50,
               quantile_cont(dur_s, 0.9) AS p90,
               quantile_cont(dur_s, 0.99) AS p99
        FROM d"""
    sql["events_ab_test"] = """
        WITH pe AS (
          SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS v,
                 user_id,
                 MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS s
          FROM events GROUP BY 1, 2
        ), cnt AS (
          SELECT v, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(s) AS BIGINT) AS c
          FROM pe GROUP BY 1
        ), g AS (
          SELECT a.v AS variant_a, a.n AS n_a, a.c AS c_a,
                 b.v AS variant_b, b.n AS n_b, b.c AS c_b
          FROM cnt a JOIN cnt b ON a.v < b.v
        ), z AS (
          SELECT *,
                 (CAST(c_a AS HUGEINT)*n_b - CAST(c_b AS HUGEINT)*n_a) AS d,
                 CAST(n_a AS HUGEINT) + n_b AS n,
                 CAST(c_a AS HUGEINT) + c_b AS c
          FROM g
        )
        SELECT variant_a, variant_b, n_a, c_a,
               CAST(c_a * 10000 // n_a AS BIGINT) AS rate_a_bp,
               n_b, c_b,
               CAST(c_b * 10000 // n_b AS BIGINT) AS rate_b_bp,
               CAST(c_a * 10000 // n_a - c_b * 10000 // n_b AS BIGINT) AS diff_bp,
               CASE WHEN CAST(n_a AS HUGEINT)*n_b*c*(n - c) > 0 THEN
                 CAST(d*d*n*1000 // (CAST(n_a AS HUGEINT)*n_b*c*(n - c)) AS BIGINT)
               END AS z2_milli,
               CASE WHEN CAST(n_a AS HUGEINT)*n_b*c*(n - c) > 0 THEN
                 d*d*n*1000 > 3841 * CAST(n_a AS HUGEINT)*n_b*c*(n - c)
               END AS significant
        FROM z"""
    sql["events_funnel_windowed"] = """
        WITH e AS (
          SELECT user_id, epoch_ns(ts) AS ns, event_type, event_id FROM events
        ), w1 AS (
          SELECT user_id, ns, event_type, event_id,
                 MIN(CASE WHEN event_type = 'view' THEN ns END) OVER
                   (PARTITION BY user_id ORDER BY ns, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t1
          FROM e
        ), w2 AS (
          SELECT *, MIN(CASE WHEN event_type = 'click' AND t1 IS NOT NULL
                        AND ns <= t1 + 259200000000000 THEN ns END) OVER
                   (PARTITION BY user_id ORDER BY ns, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t2
          FROM w1
        ), w3 AS (
          SELECT *, MIN(CASE WHEN event_type = 'purchase' AND t2 IS NOT NULL
                        AND ns <= t1 + 259200000000000 THEN ns END) OVER
                   (PARTITION BY user_id ORDER BY ns, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t3
          FROM w2
        )
        SELECT user_id, MIN(t1) AS step1_ts, MIN(t2) AS step2_ts,
               MIN(t3) AS step3_ts,
               CAST((CASE WHEN MIN(t1) IS NOT NULL THEN 1 ELSE 0 END)
                  + (CASE WHEN MIN(t2) IS NOT NULL THEN 1 ELSE 0 END)
                  + (CASE WHEN MIN(t3) IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS reached
        FROM w3 GROUP BY user_id"""
    sql["docs_collapse_rare"] = """
        WITH c AS (
          SELECT CAST(source AS VARCHAR) AS v, COUNT(*) AS n
          FROM documents WHERE source IS NOT NULL GROUP BY 1
        ), t AS (SELECT SUM(n) AS tot FROM c),
        lab AS (
          SELECT doc_id,
                 CASE WHEN source IS NULL THEN NULL
                      WHEN EXISTS (SELECT 1 FROM c, t
                                   WHERE c.v = CAST(documents.source AS VARCHAR)
                                     AND c.n * 10000 >= 500 * t.tot)
                      THEN source ELSE '__other__' END AS source
          FROM documents
        )
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM lab GROUP BY 1"""
    sql["events_target_encode"] = """
        WITH a AS (
          SELECT event_type AS c,
                 SUM(CAST(floor(value*100 + 0.5) AS HUGEINT)) AS s,
                 CAST(COUNT(*) AS HUGEINT) AS n
          FROM events WHERE value IS NOT NULL GROUP BY 1
        )
        SELECT e.event_id, e.event_type, e.value,
               CASE WHEN e.event_type IS NOT NULL AND e.value IS NOT NULL
                         AND a.n >= 2
                    THEN CAST((a.s - CAST(floor(e.value*100 + 0.5) AS HUGEINT))
                              * 1000 // (a.n - 1) AS BIGINT)
               END AS te_milli
        FROM events e LEFT JOIN a
          ON (e.event_type = a.c OR (e.event_type IS NULL AND a.c IS NULL))"""
    sql["events_funnel_rates"] = """
        WITH e AS (
          SELECT user_id, epoch_ns(ts) AS ns, event_type, event_id FROM events
        ), w1 AS (
          SELECT user_id, ns, event_type, event_id,
                 MIN(CASE WHEN event_type = 'view' THEN ns END) OVER
                   (PARTITION BY user_id ORDER BY ns, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t1
          FROM e
        ), w2 AS (
          SELECT *, MIN(CASE WHEN event_type = 'click' AND t1 IS NOT NULL
                        AND ns <= t1 + 259200000000000 THEN ns END) OVER
                   (PARTITION BY user_id ORDER BY ns, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t2
          FROM w1
        ), w3 AS (
          SELECT *, MIN(CASE WHEN event_type = 'purchase' AND t2 IS NOT NULL
                        AND ns <= t1 + 259200000000000 THEN ns END) OVER
                   (PARTITION BY user_id ORDER BY ns, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t3
          FROM w2
        ), per_user AS (
          SELECT user_id,
                 (CASE WHEN MIN(t1) IS NOT NULL THEN 1 ELSE 0 END)
               + (CASE WHEN MIN(t2) IS NOT NULL THEN 1 ELSE 0 END)
               + (CASE WHEN MIN(t3) IS NOT NULL THEN 1 ELSE 0 END) AS reached
          FROM w3 GROUP BY user_id
        ), agg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
                 CAST(SUM(CASE WHEN reached >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge1,
                 CAST(SUM(CASE WHEN reached >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge2,
                 CAST(SUM(CASE WHEN reached >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge3
          FROM per_user
        )
        SELECT n_total, n_ge1, n_ge2, n_ge3,
               CAST(n_ge1 * 10000 // n_total AS BIGINT) AS rate1_bp,
               CASE WHEN n_ge1 = 0 THEN NULL
                    ELSE CAST(n_ge2 * 10000 // n_ge1 AS BIGINT) END AS rate2_of_1_bp,
               CASE WHEN n_ge2 = 0 THEN NULL
                    ELSE CAST(n_ge3 * 10000 // n_ge2 AS BIGINT) END AS rate3_of_2_bp
        FROM agg"""
    sql["events_stickiness"] = """
        WITH ud AS (
          SELECT DISTINCT user_id AS u,
                 (epoch_ns(ts) - ((epoch_ns(ts) % 86400000000000) + 86400000000000) % 86400000000000)
                   // 86400000000000 AS d
          FROM events WHERE ts IS NOT NULL
        ), ex AS (
          SELECT ud.u, t.off, ud.d + t.off AS day
          FROM ud, (SELECT UNNEST(range(0, 30)) AS off) t
        ), c AS (
          SELECT day,
                 COUNT(DISTINCT CASE WHEN off < 1 THEN u END) AS au_1d,
                 COUNT(DISTINCT CASE WHEN off < 30 THEN u END) AS au_30d
          FROM ex GROUP BY day
        )
        SELECT CAST(day AS BIGINT) AS day,
               CAST(au_1d AS BIGINT) AS au_1d,
               CAST(au_30d AS BIGINT) AS au_30d,
               CASE WHEN au_30d = 0 THEN NULL
                    ELSE CAST(au_1d * 10000 // au_30d AS BIGINT) END AS stickiness_bp
        FROM c WHERE day IN (SELECT d FROM ud)"""
    sql["events_new_returning"] = """
        WITH wk AS (
          SELECT DISTINCT user_id,
                 epoch_ns(ts) - ((epoch_ns(ts) % 604800000000000)
                   + 604800000000000) % 604800000000000 AS week_ns
          FROM events WHERE ts IS NOT NULL
        ), f AS (
          SELECT user_id, week_ns,
                 MIN(week_ns) OVER (PARTITION BY user_id) AS first_w
          FROM wk
        )
        SELECT week_ns,
               CAST(SUM(CASE WHEN week_ns = first_w THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
               CAST(SUM(CASE WHEN week_ns <> first_w THEN 1 ELSE 0 END) AS BIGINT) AS n_returning
        FROM f GROUP BY 1"""
    sql["events_gap_histogram"] = """
        WITH g AS (
          SELECT (epoch_ns(ts)
                  - LAG(epoch_ns(ts)) OVER (
                      PARTITION BY user_id ORDER BY epoch_ns(ts), event_id))
                 / 1000000000.0 AS gap_s
          FROM events
        ), c AS (
          SELECT CAST(floor(gap_s * 1 + 0.5) AS BIGINT) AS cents
          FROM g WHERE gap_s IS NOT NULL
        ), b AS (
          SELECT cents - ((cents % 3600) + 3600) % 3600 AS bin_lo,
                 COUNT(*) AS n_rows
          FROM c GROUP BY 1
        )
        SELECT bin_lo, CAST(n_rows AS BIGINT) AS n_rows,
               CAST(n_rows * 10000 // SUM(n_rows) OVER () AS BIGINT) AS share_bp
        FROM b"""
    sql["events_auc"] = """
        WITH e AS (
          SELECT value v, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END l
          FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        ), s AS (
          SELECT v, CAST(SUM(l) AS HUGEINT) p, CAST(COUNT(*) AS HUGEINT) c
          FROM e GROUP BY 1
        ), c AS (
          SELECT p, c, SUM(c) OVER (ORDER BY v) cum FROM s
        ), a AS (
          SELECT SUM(p) np, SUM(c) - SUM(p) nn,
                 SUM(p * (2*cum - c + 1)) s2
          FROM c
        )
        SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
               CASE WHEN np > 0 AND nn > 0 THEN
                 CAST((s2 - np*(np + 1)) * 10000 // (2*np*nn) AS BIGINT)
               END AS auc_bp
        FROM a"""
    sql["events_chi2"] = """
        WITH e AS (
          SELECT event_type a,
                 CAST((epoch_ns(ts) // 86400000000000 + 4) % 7 AS INT) b
          FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        ), cells AS (
          SELECT a, b, CAST(COUNT(*) AS HUGEINT) o FROM e GROUP BY 1, 2
        ), r AS (SELECT a, SUM(o) r FROM cells GROUP BY 1),
        c AS (SELECT b, SUM(o) c FROM cells GROUP BY 1),
        grid AS (
          SELECT r.a, c.b, r.r, c.c,
                 COALESCE(cells.o, CAST(0 AS HUGEINT)) o,
                 SUM(COALESCE(cells.o, CAST(0 AS HUGEINT))) OVER () n
          FROM r CROSS JOIN c
          LEFT JOIN cells ON r.a = cells.a AND c.b = cells.b
        )
        SELECT CAST(MAX(n) AS BIGINT) AS n, COUNT(*) AS n_cells,
               (COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1) AS dof,
               CAST(SUM((o*n - r*c) * (o*n - r*c) * 10000 // (r*c*n))
                    AS BIGINT) AS chi2_bp
        FROM grid"""
    sql["events_ks"] = """
        WITH e AS (
          SELECT value v,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END ia,
                 CASE WHEN event_type = 'view' THEN 1 ELSE 0 END ib
          FROM events
          WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')
        ), s AS (
          SELECT v, CAST(SUM(ia) AS HUGEINT) a, CAST(SUM(ib) AS HUGEINT) b
          FROM e GROUP BY 1
        ), c AS (
          SELECT SUM(a) OVER (ORDER BY v) ca, SUM(b) OVER (ORDER BY v) cb,
                 SUM(a) OVER () na, SUM(b) OVER () nb
          FROM s
        ), m AS (
          SELECT MAX(na) na, MAX(nb) nb, MAX(ABS(ca*nb - cb*na)) g FROM c
        )
        SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
               CAST(g AS BIGINT) AS ks_num,
               CASE WHEN na > 0 AND nb > 0 THEN
                 CAST(g * 10000 // (na*nb) AS BIGINT)
               END AS ks_bp
        FROM m"""
    sql["orders_hhi"] = """
        WITH x AS (
          SELECT o_orderpriority, o_custkey,
                 SUM(COALESCE(CAST(floor(o_totalprice*100 + 0.5) AS HUGEINT), 0))
                   AS x
          FROM orders GROUP BY 1, 2
        ), s AS (
          SELECT o_orderpriority, COUNT(*) n_entities, SUM(x) t, MAX(x) m,
                 SUM(x*x) s2
          FROM x GROUP BY 1
        )
        SELECT o_orderpriority, n_entities, CAST(t AS BIGINT) AS total_cents,
               CAST(m AS BIGINT) AS top_cents,
               CASE WHEN t > 0 THEN CAST(s2 * 10000 // (t*t) AS BIGINT) END
                 AS hhi_bp,
               CASE WHEN t > 0 THEN CAST(m * 10000 // t AS BIGINT) END
                 AS top_share_bp
        FROM s"""
    sql["users_event_diversity"] = """
        WITH c AS (
          SELECT user_id, event_type, CAST(COUNT(*) AS HUGEINT) c
          FROM events GROUP BY 1, 2
        ), s AS (
          SELECT user_id, SUM(c) n, COUNT(*) n_categories,
                 SUM(c*(c - 1)) same
          FROM c GROUP BY 1
        )
        SELECT user_id, CAST(n AS BIGINT) AS n, n_categories,
               CASE WHEN n > 1 THEN
                 CAST((n*(n-1) - same) * 10000 // (n*(n-1)) AS BIGINT)
               END AS simpson_bp
        FROM s"""
    sql["events_mode_by"] = """
        WITH c AS (
          SELECT user_id, event_type v, COUNT(*) n FROM events GROUP BY 1, 2
        ), r AS (
          SELECT user_id, v, n,
                 CAST(SUM(n) OVER (PARTITION BY user_id) AS BIGINT) total,
                 ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY n DESC, v ASC NULLS LAST) rn
          FROM c
        )
        SELECT user_id, v AS mode, n, total,
               CAST(CAST(n AS HUGEINT) * 10000 // CAST(total AS HUGEINT)
                    AS BIGINT) AS share_bp
        FROM r WHERE rn = 1"""
    sql["events_lift"] = """
        WITH e AS (
          SELECT value s, event_id,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END l
          FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        ), r AS (
          SELECT l, NTILE(10) OVER (ORDER BY s DESC, event_id ASC) bkt
          FROM e
        ), b AS (
          SELECT CAST(bkt AS BIGINT) bucket,
                 CAST(COUNT(*) AS HUGEINT) n, CAST(SUM(l) AS HUGEINT) p
          FROM r GROUP BY 1
        ), c AS (
          SELECT bucket, n, p,
                 SUM(n) OVER (ORDER BY bucket) cn, SUM(p) OVER (ORDER BY bucket) cp,
                 SUM(n) OVER () tn, SUM(p) OVER () tp
          FROM b
        )
        SELECT bucket, CAST(n AS BIGINT) AS n, CAST(p AS BIGINT) AS n_pos,
               CAST(p * 10000 // n AS BIGINT) AS rate_bp,
               CAST(cp * 10000 // cn AS BIGINT) AS cum_rate_bp,
               CASE WHEN tp > 0 THEN
                 CAST(cp * tn * 10000 // (cn*tp) AS BIGINT)
               END AS lift_bp
        FROM c"""
    sql["docs_vocab_profile"] = r"""
        WITH tok AS (
          SELECT lang, unnest(string_split_regex(trim(lower(text)), '\s+')) t
          FROM documents
        ), tk AS (SELECT lang, t FROM tok WHERE t <> ''),
        pt AS (SELECT lang, t, CAST(COUNT(*) AS HUGEINT) c FROM tk GROUP BY 1, 2),
        s AS (
          SELECT lang, SUM(c) tokc, CAST(COUNT(*) AS HUGEINT) typ,
                 CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS HUGEINT) hap
          FROM pt GROUP BY 1
        ), d AS (
          SELECT lang, COUNT(DISTINCT doc_id) n_docs FROM documents
          WHERE len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                x -> x <> '')) > 0
          GROUP BY 1
        )
        SELECT s.lang, d.n_docs, CAST(tokc AS BIGINT) AS n_tokens,
               CAST(typ AS BIGINT) AS n_types, CAST(hap AS BIGINT) AS n_hapax,
               CAST(typ * 10000 // tokc AS BIGINT) AS ttr_bp,
               CAST(hap * 10000 // typ AS BIGINT) AS hapax_bp
        FROM s LEFT JOIN d ON s.lang = d.lang"""
    sql["docs_dup_clusters"] = r"""
        WITH variants AS (
          SELECT text FROM documents
          UNION ALL
          SELECT upper(text) FROM documents
        ), fp AS (
          SELECT md5(array_to_string(list_filter(list_transform(
                   string_split_regex(trim(lower(text)), '\s+'),
                   t -> regexp_replace(t, '[^a-z0-9]', '', 'g')),
                   t -> t <> ''), ' ')) f
          FROM variants
        ), cl AS (SELECT f, COUNT(*) sz FROM fp GROUP BY 1)
        SELECT sz AS size, COUNT(*) AS n_clusters,
               sz * COUNT(*) AS n_rows,
               (sz - 1) * COUNT(*) AS rows_removed
        FROM cl GROUP BY 1"""
    sql["events_bursts"] = """
        WITH e AS (
          SELECT user_id, epoch_ns(ts) t FROM events WHERE ts IS NOT NULL
        ), c AS (
          SELECT user_id, t,
                 COUNT(*) OVER (PARTITION BY user_id ORDER BY t
                   RANGE BETWEEN CURRENT ROW AND 3599999999999 FOLLOWING) n
          FROM e
        ), m AS (SELECT user_id, MAX(n) peak_n FROM c GROUP BY 1)
        SELECT m.user_id, CAST(m.peak_n AS BIGINT) AS peak_n,
               CAST(MIN(c.t) AS BIGINT) AS peak_start_ns
        FROM m JOIN c ON c.user_id = m.user_id AND c.n = m.peak_n
        GROUP BY 1, 2"""
    sql["orders_pareto"] = """
        WITH x AS (
          SELECT o_orderpriority pr, o_custkey e,
                 SUM(COALESCE(CAST(floor(o_totalprice*100 + 0.5) AS HUGEINT), 0))
                   AS x
          FROM orders GROUP BY 1, 2
        ), r AS (
          SELECT pr, x,
                 ROW_NUMBER() OVER (
                   PARTITION BY pr ORDER BY x DESC, e ASC NULLS LAST) k,
                 SUM(x) OVER (
                   PARTITION BY pr ORDER BY x DESC, e ASC NULLS LAST) cum,
                 SUM(x) OVER (PARTITION BY pr) tot
          FROM x
        ), h AS (
          SELECT pr, k, cum, tot, t.tbp
          FROM r CROSS JOIN (VALUES (5000), (8000), (9000)) t(tbp)
          WHERE tot > 0 AND cum * 10000 >= tbp * tot
        )
        SELECT pr AS o_orderpriority, CAST(tbp AS INT) AS threshold_bp,
               CAST(MIN(k) AS BIGINT) AS k,
               ARG_MIN(CAST(cum * 10000 // tot AS BIGINT), k) AS share_bp
        FROM h GROUP BY 1, 2"""
    sql["lineitem_r2"] = """
        WITH p AS (
          SELECT l_returnflag f,
                 CAST(floor(l_quantity*1 + 0.5) AS HUGEINT) x,
                 CAST(floor(l_extendedprice*1 + 0.5) AS HUGEINT) y
          FROM lineitem
          WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        ), s AS (
          SELECT f, CAST(COUNT(*) AS HUGEINT) n, SUM(x) sx, SUM(y) sy,
                 SUM(x*y) sxy, SUM(x*x) sxx, SUM(y*y) syy
          FROM p GROUP BY 1
        )
        SELECT f AS l_returnflag, CAST(n AS BIGINT) AS n,
               CAST(CASE WHEN n*sxy - sx*sy > 0 THEN 1
                         WHEN n*sxy - sx*sy < 0 THEN -1 ELSE 0 END AS INT)
                 AS sign,
               CASE WHEN n >= 2 AND (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0
                 THEN CAST((n*sxy - sx*sy) * (n*sxy - sx*sy) * 10000
                           // ((n*sxx - sx*sx) * (n*syy - sy*sy)) AS BIGINT)
               END AS r2_bp
        FROM s"""
    sql["events_trigrams"] = """
        WITH g AS (
          SELECT event_type s1,
                 LEAD(event_type, 1) OVER w s2,
                 LEAD(event_type, 2) OVER w s3,
                 -- end-of-stream sentinel, NOT s3 IS NOT NULL: a genuine
                 -- NULL state in the last gram slot must still count
                 LEAD(1, 2) OVER w eos
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
        ), c AS (
          SELECT s1 state_1, s2 state_2, s3 state_3, COUNT(*) support
          FROM g WHERE eos IS NOT NULL GROUP BY 1, 2, 3
        )
        SELECT state_1, state_2, state_3, CAST(support AS BIGINT) AS support
        FROM c
        ORDER BY support DESC, state_1, state_2, state_3
        LIMIT 25"""
    sql["docs_zipf"] = r"""
        WITH per_doc AS (
          SELECT doc_id, t AS term, COUNT(*) cnt FROM (
            SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\s+')) t
            FROM documents)
          WHERE t <> '' GROUP BY 1, 2
        ), stats AS (
          SELECT term, CAST(SUM(cnt) AS BIGINT) tf, CAST(COUNT(*) AS BIGINT) df
          FROM per_doc GROUP BY 1
        ), top AS (
          SELECT * FROM stats ORDER BY tf DESC, term LIMIT 30
        ), ranked AS (
          SELECT term, tf, df,
                 ROW_NUMBER() OVER (ORDER BY tf DESC, term ASC) rank,
                 MAX(tf) OVER () mx
          FROM top
        )
        SELECT CAST(rank AS BIGINT) AS rank, term, tf, df,
               CAST(rank * tf AS BIGINT) AS rank_tf,
               CAST(CAST(tf AS HUGEINT) * 10000 // CAST(mx AS HUGEINT)
                    AS BIGINT) AS share_of_top_bp
        FROM ranked"""
    sql["events_markov"] = """
        WITH p AS (
          SELECT LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) f,
                 event_type t
          FROM events
        ), c AS (
          SELECT f from_state, t to_state, COUNT(*) n
          FROM p WHERE f IS NOT NULL GROUP BY 1, 2
        ), w AS (
          SELECT from_state, to_state, n,
                 CAST(SUM(n) OVER (PARTITION BY from_state) AS BIGINT) ft
          FROM c
        )
        SELECT from_state, to_state, n, ft AS from_total,
               CAST(CAST(n AS HUGEINT) * 10000 // CAST(ft AS HUGEINT)
                    AS BIGINT) AS prob_bp
        FROM w"""
    # ---------------------------------------------------- round-10 wave
    spearman_core = """
        s AS (
          SELECT {by} CAST(COUNT(*) AS HUGEINT) n,
                 SUM(CAST(rx AS HUGEINT) * ry) sxy,
                 SUM(CAST(rx AS HUGEINT) * rx) sxx,
                 SUM(CAST(ry AS HUGEINT) * ry) syy
          FROM ranked GROUP BY ALL
        ), c AS (
          SELECT {by} n, sxy - n*(n+1)*(n+1) AS num,
                 sxx - n*(n+1)*(n+1) AS dx, syy - n*(n+1)*(n+1) AS dy
          FROM s
        )
        SELECT {by} CAST(n AS BIGINT) AS n,
               CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1
                    ELSE 0 END AS INT) AS sign,
               CASE WHEN n >= 2 AND dx > 0 AND dy > 0 THEN
                 CAST(num * num * 10000 // (dx * dy) AS BIGINT) END AS rho2_bp
        FROM c"""
    sql["lineitem_spearman"] = (
        """
        WITH ranked AS (
          SELECT l_returnflag,
                 2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
                   + count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1 AS rx,
                 2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
                   + count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1 AS ry
          FROM lineitem
          WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        ),""" + spearman_core.format(by="l_returnflag,")
    )
    sql["events_spearman_daily"] = (
        """
        WITH daily AS (
          SELECT epoch_ns(ts) // 1000000000 // 86400 AS day,
                 CAST(COUNT(*) AS BIGINT) n_ev,
                 CAST(SUM(CAST(floor(value * 100 + 0.5) AS DECIMAL(38,0)))
                      AS DOUBLE) cents
          FROM events GROUP BY 1
        ), ranked AS (
          SELECT 2 * rank() OVER (ORDER BY n_ev)
                   + count(*) OVER (PARTITION BY n_ev) - 1 AS rx,
                 2 * rank() OVER (ORDER BY cents)
                   + count(*) OVER (PARTITION BY cents) - 1 AS ry
          FROM daily WHERE n_ev IS NOT NULL AND cents IS NOT NULL
        ),""" + spearman_core.format(by="")
    )
    sql["orders_cramers"] = """
        WITH cells AS (
          SELECT o_orderstatus a, o_orderpriority b,
                 CAST(COUNT(*) AS HUGEINT) o
          FROM orders
          WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
          GROUP BY 1, 2
        ), rm AS (SELECT a, SUM(o) r FROM cells GROUP BY 1),
        cm AS (SELECT b, SUM(o) c FROM cells GROUP BY 1),
        grid AS (
          SELECT rm.a, cm.b, rm.r, cm.c, COALESCE(cells.o, 0) o
          FROM rm CROSS JOIN cm LEFT JOIN cells
            ON cells.a = rm.a AND cells.b = cm.b
        ), wn AS (
          SELECT *, SUM(o) OVER () n FROM grid
        ), agg AS (
          SELECT CAST(MAX(n) AS BIGINT) n,
                 CAST(COUNT(DISTINCT a) AS BIGINT) r_levels,
                 CAST(COUNT(DISTINCT b) AS BIGINT) c_levels,
                 CAST(SUM((o*n - r*c) * (o*n - r*c) * 10000 // (r*c*n))
                      AS BIGINT) chi2_bp
          FROM wn
        )
        SELECT n, r_levels, c_levels, chi2_bp,
               CASE WHEN least(r_levels, c_levels) > 1 THEN
                 CAST(CAST(chi2_bp AS HUGEINT)
                      // (CAST(n AS HUGEINT) * (least(r_levels, c_levels) - 1))
                      AS BIGINT) END AS v2_bp
        FROM agg"""
    sql["docs_impurity"] = """
        WITH cells AS (
          SELECT source f, lang l, CAST(COUNT(*) AS HUGEINT) c
          FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
          GROUP BY 1, 2
        ), perv AS (
          SELECT f, SUM(c) nv, SUM(c*c) ssqv FROM cells GROUP BY 1
        ), lbl AS (SELECT l, SUM(c) cl FROM cells GROUP BY 1),
        par AS (SELECT SUM(cl) np, SUM(cl*cl) ssqp FROM lbl),
        terms AS (
          SELECT perv.*, par.np, par.ssqp,
                 (nv*nv - ssqv) * 10000 // (nv * np) term
          FROM perv CROSS JOIN par
        ), agg AS (
          SELECT CAST(MAX(np) AS BIGINT) n, COUNT(*) n_values,
                 CAST(MAX((np*np - ssqp) * 10000 // (np*np)) AS BIGINT)
                   parent_gini_bp,
                 CAST(SUM(term) AS BIGINT) child_gini_bp
          FROM terms
        )
        SELECT n, n_values, parent_gini_bp, child_gini_bp,
               parent_gini_bp - child_gini_bp AS reduction_bp
        FROM agg"""
    drift_cells = """
        src AS (
          SELECT event_type cat,
                 CASE WHEN (epoch_ns(ts) // 1000000000 // 86400) % 7 IN (2, 3)
                      THEN 'weekend' ELSE 'weekday' END period
          FROM events
        ), cells AS (
          SELECT cat,
                 CAST(SUM(CASE WHEN period = 'weekday' THEN 1 ELSE 0 END)
                      AS HUGEINT) a,
                 CAST(SUM(CASE WHEN period = 'weekend' THEN 1 ELSE 0 END)
                      AS HUGEINT) b
          FROM src GROUP BY 1
        ), tot AS (SELECT SUM(a) ta, SUM(b) tb FROM cells),
        shares AS (
          SELECT cat, CAST(a AS BIGINT) n_base, CAST(b AS BIGINT) n_current,
                 CASE WHEN ta > 0 THEN CAST(a * 10000 // ta AS BIGINT) END
                   base_share_bp,
                 CASE WHEN tb > 0 THEN CAST(b * 10000 // tb AS BIGINT) END
                   current_share_bp
          FROM cells CROSS JOIN tot
        )"""
    sql["events_drift"] = (
        "WITH " + drift_cells + """
        SELECT CAST(SUM(n_base) AS BIGINT) n_base,
               CAST(SUM(n_current) AS BIGINT) n_current,
               COUNT(*) n_categories,
               CASE WHEN SUM(n_base) > 0 AND SUM(n_current) > 0 THEN
                 -- integer // 2, matching the Spark side's DIV 2: DuckDB's
                 -- CAST(x/2 AS BIGINT) ROUNDS (7/2->4) while Spark's cast
                 -- truncates, so odd sums would diverge under /2-then-cast
                 CAST(SUM(abs(COALESCE(current_share_bp, 0)
                              - COALESCE(base_share_bp, 0))) // 2 AS BIGINT)
               END AS tv_bp
        FROM shares"""
    )
    sql["events_drift_detail"] = (
        "WITH " + drift_cells + """
        SELECT cat AS category, n_base, n_current, base_share_bp,
               current_share_bp,
               COALESCE(current_share_bp, 0) - COALESCE(base_share_bp, 0)
                 AS drift_bp
        FROM shares"""
    )
    sql["orders_woe"] = """
        WITH cells AS (
          SELECT o_orderpriority v,
                 CAST(COUNT(*) AS HUGEINT) n,
                 CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                      AS HUGEINT) npos
          -- o_orderstatus IS NOT NULL mirrors the Spark side, where a NULL
          -- status makes the derived 0/1 label NULL and the row drops in
          -- woe_table; counting NULL status as a negative here would be a
          -- latent divergence (masked only because TPC-H status is NOT NULL)
          FROM orders WHERE o_orderpriority IS NOT NULL
            AND o_orderstatus IS NOT NULL GROUP BY 1
        ), w AS (
          SELECT v, n, npos, n - npos nneg,
                 SUM(npos) OVER () tp, SUM(n - npos) OVER () tn
          FROM cells
        )
        SELECT v AS value, CAST(n AS BIGINT) n, CAST(npos AS BIGINT) n_pos,
               CAST(nneg AS BIGINT) n_neg,
               CASE WHEN tp > 0 THEN CAST(npos * 10000 // tp AS BIGINT) END
                 pos_share_bp,
               CASE WHEN tn > 0 THEN CAST(nneg * 10000 // tn AS BIGINT) END
                 neg_share_bp,
               CASE WHEN nneg > 0 AND tp > 0 THEN
                 CAST(npos * tn * 10000 // (nneg * tp) AS BIGINT) END odds_bp
        FROM w"""
    sql["lineitem_trimmed_mean"] = """
        WITH c AS (
          SELECT l_returnflag g,
                 CAST(floor(l_extendedprice * 100 + 0.5) AS HUGEINT) cents
          FROM lineitem WHERE l_extendedprice IS NOT NULL
        ), r AS (
          SELECT g, cents,
                 row_number() OVER (PARTITION BY g ORDER BY cents) rn,
                 count(*) OVER (PARTITION BY g) n
          FROM c
        ), k AS (SELECT *, n * 500 // 10000 AS kk FROM r)
        SELECT g AS l_returnflag, CAST(MAX(n) AS BIGINT) n,
               CAST(MAX(kk) AS BIGINT) n_trimmed_each,
               CAST(COUNT(*) AS BIGINT) n_kept,
               CAST(SUM(cents) AS BIGINT) sum_kept_cents,
               CAST(SUM(cents) // COUNT(*) AS BIGINT) trimmed_mean_cents
        FROM k WHERE rn > kk AND rn <= n - kk GROUP BY g"""
    sql["events_mann_kendall"] = """
        WITH d AS (
          SELECT user_id, epoch_ns(ts) // 1000000000 // 86400 AS day,
                 CAST(COUNT(*) AS BIGINT) n_ev
          FROM events GROUP BY 1, 2
        ), n AS (SELECT user_id, COUNT(*) nn FROM d GROUP BY 1),
        pairs AS (
          SELECT a.user_id,
                 CASE WHEN b.n_ev > a.n_ev THEN 1 ELSE 0 END up,
                 CASE WHEN b.n_ev < a.n_ev THEN 1 ELSE 0 END down,
                 CASE WHEN b.n_ev = a.n_ev THEN 1 ELSE 0 END tie
          FROM d a JOIN d b ON a.user_id = b.user_id AND a.day < b.day
        ), agg AS (
          SELECT user_id, COUNT(*) n_pairs, SUM(up) n_up, SUM(down) n_down,
                 SUM(tie) n_tie
          FROM pairs GROUP BY 1
        )
        SELECT n.user_id, CAST(n.nn AS BIGINT) n,
               CAST(COALESCE(n_pairs, 0) AS BIGINT) n_pairs,
               CAST(COALESCE(n_up, 0) AS BIGINT) n_up,
               CAST(COALESCE(n_down, 0) AS BIGINT) n_down,
               CAST(COALESCE(n_tie, 0) AS BIGINT) n_tie,
               CAST(COALESCE(n_up, 0) - COALESCE(n_down, 0) AS BIGINT) s
        FROM n LEFT JOIN agg ON n.user_id = agg.user_id"""
    sql["customer_survival"] = """
        WITH per_c AS (
          SELECT o_custkey,
                 MIN(datediff('day', DATE '1970-01-01',
                              CAST(o_orderdate AS DATE))) first_day,
                 MAX(datediff('day', DATE '1970-01-01',
                              CAST(o_orderdate AS DATE))) last_day
          FROM orders GROUP BY 1
        ), hz AS (SELECT MAX(last_day) horizon FROM per_c),
        labeled AS (
          SELECT (last_day - first_day) // 30 AS t,
                 CASE WHEN last_day < horizon - 60 THEN 1 ELSE 0 END e
          FROM per_c CROSS JOIN hz
        ), iv AS (
          SELECT t, CAST(SUM(e) AS BIGINT) d,
                 CAST(SUM(1 - e) AS BIGINT) c
          FROM labeled GROUP BY 1
        ), st AS (
          SELECT t, d, c,
                 SUM(d + c) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) rm,
                 SUM(d + c) OVER () tot,
                 row_number() OVER (ORDER BY t) pos
          FROM iv
        ), wf AS (SELECT *, tot - rm + d + c AS n_risk FROM st),
        fs AS (
          SELECT list(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE)
                      ORDER BY t) f
          FROM wf
        )
        SELECT t, CAST(n_risk AS BIGINT) n_risk, d AS n_events,
               c AS n_censored,
               list_reduce(list_slice(fs.f, 1, pos), (a, b) -> a * b)
                 AS survival
        FROM wf CROSS JOIN fs"""
    sql["events_changepoint"] = """
        WITH b AS (
          SELECT user_id, epoch_ns(ts) tsn, event_id,
                 CAST(floor(value * 100 + 0.5) AS HUGEINT) c
          FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
        ), r AS (
          SELECT user_id, tsn, event_id, c,
                 row_number() OVER w i,
                 SUM(c) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) cum,
                 count(*) OVER (PARTITION BY user_id) n,
                 SUM(c) OVER (PARTITION BY user_id) s
          FROM b WINDOW w AS (PARTITION BY user_id ORDER BY tsn, event_id)
        ), sp AS (
          SELECT user_id, tsn, i, cum, n, s,
                 ((n - i) * cum - i * (s - cum))
                   * ((n - i) * cum - i * (s - cum))
                   // (i * (n - i) * n) score
          FROM r WHERE i < n
        )
        SELECT user_id, CAST(n AS BIGINT) n, CAST(i AS BIGINT) split_idx,
               CAST(tsn AS BIGINT) split_ts, CAST(i AS BIGINT) n_left,
               CAST(n - i AS BIGINT) n_right,
               CAST(cum // i AS BIGINT) mean_left_cents,
               CAST((s - cum) // (n - i) AS BIGINT) mean_right_cents,
               CAST(score AS BIGINT) score
        FROM sp
        QUALIFY row_number() OVER (
          PARTITION BY user_id ORDER BY score DESC, i ASC) = 1"""
    sql["events_sma_crossover"] = """
        WITH b AS (
          SELECT user_id, epoch_ns(ts) tsn, event_id,
                 CAST(floor(value * 100 + 0.5) AS HUGEINT) c
          FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
        ), r AS (
          SELECT user_id, tsn, c,
                 row_number() OVER w i,
                 SUM(c) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) ss,
                 SUM(c) OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) sl
          FROM b WINDOW w AS (PARTITION BY user_id ORDER BY tsn, event_id)
        ), st AS (
          SELECT user_id, tsn, ss, sl,
                 CASE WHEN ss * 7 > sl * 3 THEN 1 ELSE 0 END state,
                 LAG(CASE WHEN ss * 7 > sl * 3 THEN 1 ELSE 0 END) OVER (
                   PARTITION BY user_id ORDER BY tsn, i) prev
          FROM r WHERE i >= 7
        )
        SELECT user_id, CAST(tsn AS BIGINT) ts,
               CASE WHEN state = 1 THEN 'golden' ELSE 'death' END direction,
               CAST(ss AS BIGINT) short_sum_cents,
               CAST(sl AS BIGINT) long_sum_cents,
               CAST(ss // 3 AS BIGINT) short_mean_cents,
               CAST(sl // 7 AS BIGINT) long_mean_cents
        FROM st WHERE prev IS NOT NULL AND state <> prev"""
    # the streaming crossover twin drains to the batch op's exact rows
    sql["events_stream_crossover"] = sql["events_sma_crossover"]
    sql["events_runs"] = """
        WITH b AS (
          SELECT user_id, epoch_ns(ts) tsn, event_id,
                 CAST(floor(value * 100 + 0.5) AS HUGEINT) c
          FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
        ), st AS (
          SELECT user_id, tsn, event_id, c,
                 count(*) OVER (PARTITION BY user_id) n,
                 SUM(c) OVER (PARTITION BY user_id) s
          FROM b
        ), fl AS (
          SELECT user_id, tsn, event_id,
                 CASE WHEN c * n > s THEN 1 ELSE 0 END state,
                 CASE WHEN LAG(CASE WHEN c * n > s THEN 1 ELSE 0 END)
                        OVER w IS NULL
                      OR LAG(CASE WHEN c * n > s THEN 1 ELSE 0 END)
                        OVER w <> CASE WHEN c * n > s THEN 1 ELSE 0 END
                      THEN 1 ELSE 0 END new_run
          FROM st WINDOW w AS (PARTITION BY user_id ORDER BY tsn, event_id)
        ), rid AS (
          SELECT user_id, state,
                 SUM(new_run) OVER (PARTITION BY user_id ORDER BY tsn, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) run_id
          FROM fl
        ), runs AS (
          SELECT user_id, run_id, COUNT(*) len, MAX(state) st
          FROM rid GROUP BY 1, 2
        )
        SELECT user_id, CAST(SUM(len) AS BIGINT) n,
               CAST(SUM(CASE WHEN st = 1 THEN len ELSE 0 END) AS BIGINT)
                 n_above,
               COUNT(*) n_runs, CAST(MAX(len) AS BIGINT) longest_run
        FROM runs GROUP BY 1"""
    sql["events_acf"] = """
        WITH b AS (
          SELECT user_id, epoch_ns(ts) tsn, event_id,
                 CAST(floor(value * 100 + 0.5) AS DECIMAL(38,0)) y
          FROM events WHERE ts IS NOT NULL
        ), l AS (
          SELECT user_id, 1 AS lag, y,
                 LAG(y, 1) OVER (PARTITION BY user_id
                                 ORDER BY tsn, event_id) x FROM b
          UNION ALL
          SELECT user_id, 2, y, LAG(y, 2) OVER (PARTITION BY user_id
                                 ORDER BY tsn, event_id) FROM b
          UNION ALL
          SELECT user_id, 3, y, LAG(y, 3) OVER (PARTITION BY user_id
                                 ORDER BY tsn, event_id) FROM b
        ), s AS (
          SELECT user_id, lag, CAST(COUNT(*) AS DECIMAL(38,0)) n,
                 SUM(x) sx, SUM(y) sy, SUM(x*y) sxy, SUM(x*x) sxx
          FROM l WHERE x IS NOT NULL AND y IS NOT NULL GROUP BY 1, 2
        )
        SELECT user_id, lag, CAST(n AS BIGINT) n_pairs,
               CASE WHEN n >= 2 AND (n*sxx - sx*sx) <> 0 THEN
                 CAST(CAST((n*sxy - sx*sy) * 1000000 AS HUGEINT)
                      // CAST(n*sxx - sx*sx AS HUGEINT) AS BIGINT)
               END AS ar_micro
        FROM s"""
    sql["events_session_bounce"] = """
        WITH e0 AS (
          SELECT user_id, event_id, event_type,
                 epoch_ns(ts) // 1000000000 AS e
          FROM events
        ), g AS (
          SELECT user_id, event_id, event_type, e,
                 CASE WHEN LAG(e) OVER w IS NULL
                      OR e - LAG(e) OVER w > 1800
                      THEN 1 ELSE 0 END new_s
          FROM e0 WINDOW w AS (PARTITION BY user_id ORDER BY e, event_id)
        ), s AS (
          SELECT user_id, event_id, event_type, e,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY e, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) sid
          FROM g
        ), fi AS (
          SELECT user_id, sid, event_type,
                 row_number() OVER (PARTITION BY user_id, sid
                                    ORDER BY e, event_id) rf,
                 row_number() OVER (PARTITION BY user_id, sid
                                    ORDER BY e DESC, event_id DESC) rl,
                 count(*) OVER (PARTITION BY user_id, sid) ne
          FROM s
        ), entries AS (
          SELECT event_type page, CAST(COUNT(*) AS BIGINT) n_entries,
                 CAST(SUM(CASE WHEN ne = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   n_bounces
          FROM fi WHERE rf = 1 GROUP BY 1
        ), exits AS (
          SELECT event_type page, CAST(COUNT(*) AS BIGINT) n_exits
          FROM fi WHERE rl = 1 GROUP BY 1
        )
        SELECT COALESCE(entries.page, exits.page) page,
               COALESCE(n_entries, 0) n_entries,
               COALESCE(n_exits, 0) n_exits,
               COALESCE(n_bounces, 0) n_bounces,
               CASE WHEN COALESCE(n_entries, 0) > 0 THEN
                 CAST(CAST(COALESCE(n_bounces, 0) AS HUGEINT) * 10000
                      // CAST(n_entries AS HUGEINT) AS BIGINT) END bounce_bp
        FROM entries FULL OUTER JOIN exits ON entries.page = exits.page"""
    sql["docs_vocab_growth"] = r"""
        WITH tok AS (
          SELECT doc_id, t FROM (
            SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\s+')) t
            FROM documents)
          WHERE t <> ''
        ), pd AS (SELECT doc_id, COUNT(*) tk FROM tok GROUP BY 1),
        fd AS (SELECT t, MIN(doc_id) f FROM tok GROUP BY 1),
        nt AS (SELECT f doc_id, COUNT(*) nw FROM fd GROUP BY 1),
        d AS (
          SELECT ids.doc_id, COALESCE(pd.tk, 0) tk, COALESCE(nt.nw, 0) nw
          FROM (SELECT DISTINCT doc_id FROM documents) ids
          LEFT JOIN pd ON ids.doc_id = pd.doc_id
          LEFT JOIN nt ON ids.doc_id = nt.doc_id
        ), c AS (
          SELECT doc_id, row_number() OVER (ORDER BY doc_id) pos,
                 SUM(tk) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) ct,
                 SUM(nw) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cv
          FROM d
        )
        SELECT CAST(pos AS BIGINT) n_docs, doc_id,
               CAST(ct AS BIGINT) cum_tokens, CAST(cv AS BIGINT) cum_vocab
        FROM c
        WHERE pos % 100 = 0 OR pos = (SELECT COUNT(*) FROM d)"""
    sql["docs_curriculum"] = """
        WITH tiered AS (
          SELECT doc_id, n_chars,
                 CAST(NTILE(4) OVER (ORDER BY n_chars, doc_id) AS BIGINT) tier,
                 md5(concat_ws('|', 'curriculum', CAST(doc_id AS VARCHAR))) h
          FROM documents WHERE n_chars IS NOT NULL
        ), r AS (
          SELECT doc_id, n_chars, tier,
                 row_number() OVER (PARTITION BY tier
                                    ORDER BY h, doc_id) rt
          FROM tiered
        )
        SELECT doc_id, n_chars, tier,
               CAST((rt - 1) * 4 + tier AS BIGINT) AS "position"
        FROM r"""
    sql["docs_curriculum_dense"] = """
        WITH tiered AS (
          SELECT doc_id, n_chars,
                 CAST(NTILE(4) OVER (ORDER BY n_chars, doc_id) AS BIGINT) tier,
                 md5(concat_ws('|', 'curriculum', CAST(doc_id AS VARCHAR))) h
          FROM documents WHERE n_chars IS NOT NULL
        ), r AS (
          SELECT doc_id, n_chars, tier,
                 row_number() OVER (PARTITION BY tier
                                    ORDER BY h, doc_id) rt
          FROM tiered
        ), gapped AS (
          SELECT doc_id, n_chars, tier,
                 CAST((rt - 1) * 4 + tier AS BIGINT) AS pos
          FROM r
        )
        SELECT doc_id, n_chars, tier,
               CAST(row_number() OVER (ORDER BY pos) AS BIGINT) AS "position"
        FROM gapped"""
    sql["events_value_ecdf"] = """
        WITH dv AS (
          SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) value_cents,
                 CAST(COUNT(*) AS HUGEINT) c
          FROM events WHERE value IS NOT NULL GROUP BY 1
        ), cum AS (
          SELECT value_cents, c,
                 SUM(c) OVER (ORDER BY value_cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) ci,
                 SUM(c) OVER () n
          FROM dv
        )
        SELECT value_cents, CAST(c AS BIGINT) n,
               CAST((ci - c) * 10000 // greatest(n - 1, 1) AS BIGINT)
                 pct_rank_bp,
               CAST(ci * 10000 // n AS BIGINT) cume_bp
        FROM cum"""
    sql["lineitem_kendall"] = """
        WITH m AS (
          SELECT l_returnflag, substring(CAST(l_shipdate AS VARCHAR), 1, 7) mo,
                 SUM(CAST(l_quantity AS DECIMAL(18,4))) qty,
                 SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS HUGEINT)) rev
          FROM lineitem GROUP BY 1, 2
        ), nn AS (SELECT l_returnflag, COUNT(*) n FROM m GROUP BY 1),
        p AS (
          SELECT x.l_returnflag g,
                 CASE WHEN (y.qty > x.qty AND y.rev > x.rev)
                        OR (y.qty < x.qty AND y.rev < x.rev)
                      THEN 1 ELSE 0 END conc,
                 CASE WHEN (y.qty > x.qty AND y.rev < x.rev)
                        OR (y.qty < x.qty AND y.rev > x.rev)
                      THEN 1 ELSE 0 END disc,
                 CASE WHEN y.qty = x.qty AND y.rev <> x.rev THEN 1 ELSE 0 END tx,
                 CASE WHEN y.qty <> x.qty AND y.rev = x.rev THEN 1 ELSE 0 END ty,
                 CASE WHEN y.qty = x.qty AND y.rev = x.rev THEN 1 ELSE 0 END tb
          FROM m x JOIN m y
            ON x.l_returnflag = y.l_returnflag AND x.mo < y.mo
        ), agg AS (
          SELECT g, COUNT(*) np, SUM(conc) nc, SUM(disc) nd,
                 SUM(tx) ntx, SUM(ty) nty, SUM(tb) ntb
          FROM p GROUP BY 1
        )
        SELECT nn.l_returnflag, CAST(nn.n AS BIGINT) n,
               CAST(COALESCE(np, 0) AS BIGINT) n_pairs,
               CAST(COALESCE(nc, 0) AS BIGINT) n_concordant,
               CAST(COALESCE(nd, 0) AS BIGINT) n_discordant,
               CAST(COALESCE(ntx, 0) AS BIGINT) n_tie_x,
               CAST(COALESCE(nty, 0) AS BIGINT) n_tie_y,
               CAST(COALESCE(ntb, 0) AS BIGINT) n_tie_both,
               CASE WHEN COALESCE(np, 0) > 0 THEN
                 CAST(CAST((nc - nd) * 10000 AS HUGEINT)
                      // CAST(np AS HUGEINT) AS BIGINT) END tau_a_bp
        FROM nn LEFT JOIN agg ON nn.l_returnflag = agg.g"""
    sql["events_theil_sen"] = """
        WITH d AS (
          SELECT user_id, epoch_ns(ts) // 1000000000 // 86400 AS t,
                 CAST(floor(COUNT(*) * 1 + 0.5) AS HUGEINT) c
          FROM events GROUP BY 1, 2
        ), nn AS (SELECT user_id, COUNT(*) n FROM d GROUP BY 1),
        p AS (
          SELECT x.user_id,
                 CAST((y.c - x.c) * 1000 AS HUGEINT)
                   // CAST(y.t - x.t AS HUGEINT) sl
          FROM d x JOIN d y ON x.user_id = y.user_id AND x.t < y.t
        ), r AS (
          SELECT user_id, sl,
                 row_number() OVER (PARTITION BY user_id ORDER BY sl) rn,
                 COUNT(*) OVER (PARTITION BY user_id) np
          FROM p
        ), med AS (
          SELECT user_id, CAST(sl AS BIGINT) slope_milli,
                 CAST(np AS BIGINT) n_pairs
          FROM r WHERE rn = (np + 1) // 2
        )
        SELECT nn.user_id, CAST(nn.n AS BIGINT) n,
               COALESCE(n_pairs, 0) n_pairs, slope_milli
        FROM nn LEFT JOIN med ON nn.user_id = med.user_id"""
    # sampled Theil-Sen: md5-offset partner draws (the rank_comparison
    # '0x'||substr(md5(...),1,8) idiom == Spark conv(substr(md5),16,10)),
    # then the exact lower median over the sampled slopes; DuckDB //
    # truncates toward zero exactly like Spark's decimal DIV
    sql["events_theil_sen_sampled"] = """
        WITH d AS (
          SELECT user_id, epoch_ns(ts) // 1000000000 // 86400 AS t,
                 CAST(floor(COUNT(*) * 1 + 0.5) AS HUGEINT) c
          FROM events GROUP BY 1, 2
        ), nn AS (SELECT user_id, COUNT(*) n FROM d GROUP BY 1),
        b AS (
          SELECT user_id, t, c,
                 ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t, c) i,
                 COUNT(*) OVER (PARTITION BY user_id) ng
          FROM d
        ),
        dr AS (
          SELECT b.user_id, b.i, b.ng, b.t, b.c, js.dd,
                 ('0x' || substr(md5('42|' || CAST(b.user_id AS VARCHAR)
                   || '|' || CAST(b.i AS VARCHAR) || '|'
                   || CAST(js.dd AS VARCHAR)), 1, 8))::BIGINT h
          FROM b, (SELECT unnest(range(0, 16)) AS dd) js
          WHERE b.ng >= 2
        ),
        pr AS (
          SELECT d2.user_id, d2.t ta, d2.c ca, p.t tb, p.c cb
          FROM (SELECT *, (i - 1 + 1 + h % (ng - 1)) % ng + 1 AS j FROM dr) d2
          JOIN b p ON p.user_id = d2.user_id AND p.i = d2.j
          WHERE d2.t <> p.t
        ),
        sl AS (
          SELECT user_id, CAST((cb - ca) * 1000 AS HUGEINT)
                   // CAST(tb - ta AS HUGEINT) sl
          FROM pr
        ), r AS (
          SELECT user_id, sl,
                 row_number() OVER (PARTITION BY user_id ORDER BY sl) rn,
                 COUNT(*) OVER (PARTITION BY user_id) np
          FROM sl
        ), med AS (
          SELECT user_id, CAST(sl AS BIGINT) slope_milli,
                 CAST(np AS BIGINT) n_pairs
          FROM r WHERE rn = (np + 1) // 2
        )
        SELECT nn.user_id, CAST(nn.n AS BIGINT) n,
               COALESCE(n_pairs, 0) n_pairs, slope_milli
        FROM nn LEFT JOIN med ON nn.user_id = med.user_id"""
    # streaming drift twin: final drained row per day == the batch
    # share/TV SQL vs the literal uniform reference (floored-bp shares,
    # Σ|Δ| DIV 2, union of observed and reference categories)
    sql["events_stream_drift"] = """
        WITH ref(cat, bp) AS (VALUES ('click', 2000), ('error', 2000),
               ('purchase', 2000), ('signup', 2000), ('view', 2000)),
        c AS (
          SELECT epoch_ns(ts) // 1000000000 // 86400 AS d,
                 event_type AS cat, CAST(COUNT(*) AS HUGEINT) AS n
          FROM events GROUP BY 1, 2),
        t AS (SELECT d, SUM(n) total, COUNT(*) ncat FROM c GROUP BY 1),
        s AS (
          SELECT c.d, c.cat, CAST(c.n * 10000 // t.total AS BIGINT) AS share
          FROM c JOIN t ON c.d = t.d),
        rx AS (SELECT t.d, ref.cat, ref.bp FROM t CROSS JOIN ref),
        u AS (
          SELECT COALESCE(s.d, rx.d) AS d, COALESCE(s.share, 0) AS share,
                 COALESCE(rx.bp, 0) AS bp
          FROM s FULL JOIN rx ON s.d = rx.d AND s.cat = rx.cat)
        SELECT t.d AS window_start, CAST(t.total AS BIGINT) AS n,
               CAST(t.ncat AS BIGINT) AS n_categories,
               CAST(SUM(abs(u.share - u.bp)) // 2 AS BIGINT) AS tv_bp
        FROM u JOIN t ON u.d = t.d GROUP BY 1, 2, 3"""
    # kappa: exact integers — A agreements, S = Σ marginal products;
    # kappa_bp = (A·n − S)·10⁴ // (n² − S), one truncating division
    sql["events_kappa"] = """
        WITH labs(i, lab) AS (VALUES (0, 'click'), (1, 'error'),
               (2, 'purchase'), (3, 'signup'), (4, 'view')),
        r AS (
          SELECT e.event_type AS ra, labs.lab AS rb
          FROM events e JOIN labs ON labs.i = e.event_id % 5
          WHERE e.event_type IS NOT NULL
        ),
        ab AS (SELECT ra, rb, CAST(COUNT(*) AS HUGEINT) c FROM r GROUP BY 1, 2),
        ca AS (SELECT ra AS k, SUM(c) ca FROM ab GROUP BY 1),
        cb AS (SELECT rb AS k, SUM(c) cb FROM ab GROUP BY 1),
        s AS (SELECT SUM(ca.ca * cb.cb) s FROM ca JOIN cb ON ca.k = cb.k),
        g AS (SELECT SUM(c) n,
                     SUM(CASE WHEN ra = rb THEN c ELSE 0 END) a
              FROM ab)
        SELECT CAST(g.n AS BIGINT) n, CAST(g.a AS BIGINT) n_agree,
               CAST(g.a * 10000 // g.n AS BIGINT) po_bp,
               CAST(s.s * 10000 // (g.n * g.n) AS BIGINT) pe_bp,
               CASE WHEN g.n * g.n - s.s <> 0 THEN
                 CAST((g.a * g.n - s.s) * 10000 // (g.n * g.n - s.s) AS BIGINT)
               END AS kappa_bp
        FROM g CROSS JOIN s"""
    # psi: floored-bp shares (zeros -> 1 bp), term doubles cast to
    # DECIMAL(28,12) (burying the 1-ulp ln() wobble), decimal SUM,
    # round 6 — the bm25 idiom, so the double hash-matches
    sql["events_psi"] = """
        WITH src AS (
          SELECT event_type AS cat,
                 CASE WHEN (epoch_ns(ts) // 1000000000 // 86400) % 7 IN (2, 3)
                      THEN 'weekend' ELSE 'weekday' END AS period
          FROM events
        ), cells AS (
          SELECT cat,
                 CAST(SUM(CASE WHEN period = 'weekday' THEN 1 ELSE 0 END)
                      AS HUGEINT) a,
                 CAST(SUM(CASE WHEN period = 'weekend' THEN 1 ELSE 0 END)
                      AS HUGEINT) b
          FROM src GROUP BY 1
        ), tot AS (SELECT SUM(a) ta, SUM(b) tb FROM cells),
        sh AS (
          SELECT greatest(CAST(a * 10000 // ta AS BIGINT), 1) p,
                 greatest(CAST(b * 10000 // tb AS BIGINT), 1) q,
                 a, b
          FROM cells CROSS JOIN tot
        )
        SELECT CAST(SUM(a) AS BIGINT) n_base, CAST(SUM(b) AS BIGINT) n_current,
               COUNT(*) n_categories,
               CASE WHEN SUM(a) > 0 AND SUM(b) > 0 THEN
                 CAST(ROUND(SUM(CAST(
                   (p - q) / CAST(10000.0 AS DOUBLE)
                   * ln(CAST(p AS DOUBLE) / CAST(q AS DOUBLE))
                 AS DECIMAL(28,12))), 6) AS DOUBLE)
               END AS psi
        FROM sh"""
    # novelty: per-doc distinct trigrams vs the gram -> min(doc_id)
    # first-occurrence table (the docs_ngram_stats tokenization)
    sql["docs_ngram_novelty"] = """
        WITH tok AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                             x -> x <> '') AS tk
          FROM documents
        ), g AS (
          SELECT doc_id,
                 unnest(list_distinct(CASE WHEN len(tk) >= 3
                   THEN list_transform(range(1, len(tk) - 1),
                        i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])
                   ELSE [] END)) AS gram
          FROM tok
        ), fo AS (SELECT gram, MIN(doc_id) AS first FROM g GROUP BY 1),
        cnt AS (
          SELECT g.doc_id, COUNT(*) AS n_ngrams,
                 SUM(CASE WHEN g.doc_id = fo.first THEN 1 ELSE 0 END) AS n_novel
          FROM g JOIN fo ON g.gram = fo.gram GROUP BY 1
        )
        SELECT d.doc_id,
               CAST(COALESCE(cnt.n_ngrams, 0) AS BIGINT) AS n_ngrams,
               CAST(COALESCE(cnt.n_novel, 0) AS BIGINT) AS n_novel,
               CASE WHEN cnt.n_ngrams > 0 THEN
                 CAST(cnt.n_novel * 10000 // cnt.n_ngrams AS BIGINT)
               END AS novelty_bp
        FROM documents d LEFT JOIN cnt ON d.doc_id = cnt.doc_id"""
    sql["events_conversion_latency"] = """
        WITH f AS (
          SELECT user_id,
                 MIN(CASE WHEN event_type = 'signup'
                     THEN epoch_ns(ts) // 1000000000 END) s,
                 MIN(CASE WHEN event_type = 'purchase'
                     THEN epoch_ns(ts) // 1000000000 END) p
          FROM events GROUP BY 1
        ), lat AS (
          SELECT (p - s) // 3600 AS hours FROM f
          WHERE s IS NOT NULL AND p IS NOT NULL AND p >= s
        ), c AS (
          SELECT hours, CAST(COUNT(*) AS HUGEINT) n_users FROM lat GROUP BY 1
        )
        SELECT hours, CAST(n_users AS BIGINT) n_users,
               CAST(n_users * 10000 // SUM(n_users) OVER () AS BIGINT) share_bp
        FROM c"""
    sql["users_event_degree"] = """
        WITH deg AS (
          SELECT user_id, COUNT(DISTINCT event_type) degree
          FROM events GROUP BY 1
        ), c AS (
          SELECT degree, CAST(COUNT(*) AS HUGEINT) n_users FROM deg GROUP BY 1
        )
        SELECT degree, CAST(n_users AS BIGINT) n_users,
               CAST(n_users * 10000 // SUM(n_users) OVER () AS BIGINT) share_bp
        FROM c"""
    sql["part_topk_ties"] = """
        SELECT p_brand, p_partkey, p_retailprice, CAST(rnk AS BIGINT) rnk
        FROM (
          SELECT p_brand, p_partkey, p_retailprice,
                 dense_rank() OVER (PARTITION BY p_brand
                                    ORDER BY p_retailprice DESC) rnk
          FROM part
        ) WHERE rnk <= 3"""
    sql["orders_rollup_gid"] = """
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) n_orders,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5)
                             AS DECIMAL(38,0))) AS BIGINT) total_cents,
               CAST(2 * GROUPING(o_orderstatus)
                    + GROUPING(o_orderpriority) AS BIGINT) gid
        FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)"""
    # kruskal: global 2-midranks via window rank, per-level micro
    # terms floored in HUGEINT (// mirrors Spark's truncating DIV —
    # both truncate toward zero, verified), tie mass from the
    # distinct-value grain
    sql["events_kruskal"] = """
        WITH base AS (
          SELECT value AS v, event_type AS g FROM events
          WHERE value IS NOT NULL AND event_type IS NOT NULL
        ), r AS (
          SELECT g, 2 * RANK() OVER (ORDER BY v)
                    + COUNT(*) OVER (PARTITION BY v) - 1 AS mr2
          FROM base
        ), pg AS (
          SELECT g, CAST(COUNT(*) AS HUGEINT) ng,
                 CAST(SUM(CAST(mr2 AS HUGEINT)) AS HUGEINT) sg
          FROM r GROUP BY 1
        ), agg AS (
          SELECT CAST(SUM(ng) AS HUGEINT) n, COUNT(*) k,
                 SUM(sg * sg * 1000000 // ng) sumterm
          FROM pg
        ), ties AS (
          SELECT SUM(CAST(t AS HUGEINT) * t * t - t) tt
          FROM (SELECT COUNT(*) t FROM base GROUP BY v)
        )
        SELECT CAST(n AS BIGINT) n, CAST(k AS INT) n_groups,
               CASE WHEN n >= 2 AND k >= 2 THEN
                 CAST(3 * (sumterm - 1000000 * n * (n + 1) * (n + 1))
                      // (100 * n * (n + 1)) AS BIGINT) END AS h_bp,
               CASE WHEN n >= 2 AND k >= 2
                         AND n * n * n - n - tt > 0 THEN
                 CAST((3 * (sumterm - 1000000 * n * (n + 1) * (n + 1))
                       // (100 * n * (n + 1))) * (n * n * n - n)
                      // (n * n * n - n - tt) AS BIGINT) END AS h_tie_bp
        FROM agg CROSS JOIN ties"""
    # mutual info: exact cell/marginal counts; term doubles cast to
    # DECIMAL(28,12) before the order-independent sum (psi discipline)
    sql["events_mutual_info"] = """
        WITH src AS (
          SELECT CAST(event_type AS VARCHAR) a,
                 CAST((epoch_ns(ts) // 1000000000
                       // 86400) % 7 AS VARCHAR) b
          FROM events
          WHERE event_type IS NOT NULL AND ts IS NOT NULL
        ), cells AS (
          SELECT a, b, CAST(COUNT(*) AS HUGEINT) c FROM src GROUP BY 1, 2
        ), ca AS (SELECT a, SUM(c) ca FROM cells GROUP BY 1),
        cb AS (SELECT b, SUM(c) cb FROM cells GROUP BY 1),
        tot AS (SELECT SUM(c) n FROM cells)
        SELECT CAST(tot.n AS BIGINT) n, COUNT(*) n_cells,
               CASE WHEN tot.n > 0 THEN
                 CAST(ROUND(SUM(CAST(
                   CAST(c AS DOUBLE) / CAST(tot.n AS DOUBLE)
                   * ln(CAST(c AS DOUBLE) * CAST(tot.n AS DOUBLE)
                        / (CAST(ca.ca AS DOUBLE) * CAST(cb.cb AS DOUBLE)))
                 AS DECIMAL(28,12))), 6) AS DOUBLE) END AS mi
        FROM cells JOIN ca USING (a) JOIN cb USING (b) CROSS JOIN tot
        GROUP BY tot.n"""
    # anova: cents via floor(x*100 + 0.5) (the to_cents idiom), level
    # micro terms floored in HUGEINT, F/eta2 single divisions
    sql["orders_anova"] = """
        WITH base AS (
          SELECT o_orderpriority AS g,
                 CAST(floor(o_totalprice * 100 + 0.5) AS HUGEINT) v
          FROM orders
          WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
        ), pg AS (
          SELECT g, CAST(COUNT(*) AS HUGEINT) ng, SUM(v) sg, SUM(v * v) qg
          FROM base GROUP BY 1
        ), agg AS (
          SELECT CAST(SUM(ng) AS HUGEINT) n, COUNT(*) k,
                 SUM(sg) s, SUM(qg) q,
                 SUM(sg * sg * 1000000 // ng) sumterm
          FROM pg
        ), sq AS (
          SELECT n, k,
                 sumterm - s * s * 1000000 // n AS ssb,
                 q * 1000000 - sumterm AS ssw
          FROM agg
        )
        SELECT CAST(n AS BIGINT) n, CAST(k AS INT) n_groups,
               CASE WHEN k >= 2 AND n > k AND ssw > 0 THEN
                 CAST(ssb * (n - k) * 10000 // (ssw * (k - 1)) AS BIGINT)
               END AS f_bp,
               CASE WHEN ssb + ssw > 0 THEN
                 CAST(ssb * 10000 // (ssb + ssw) AS BIGINT)
               END AS eta2_bp
        FROM sq"""
    # part co-order graph (shared CTE text): canonical distinct edges
    # from the lineitem order self-join
    _graph_edges = """
        pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e0 AS (
          SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
          FROM pp a JOIN pp b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        )"""
    # triangles: replay the degree-ordered orientation exactly — each
    # triangle generated once at its (degree, node)-minimal corner
    sql["part_triangles"] = f"""
        WITH {_graph_edges},
        deg AS (
          SELECT node, CAST(COUNT(*) AS BIGINT) dg
          FROM (SELECT s AS node FROM e0
                UNION ALL SELECT d FROM e0) GROUP BY 1
        ), o AS (
          SELECT CASE WHEN ds.dg < dd.dg OR (ds.dg = dd.dg AND e0.s < e0.d)
                      THEN e0.s ELSE e0.d END lo,
                 CASE WHEN ds.dg < dd.dg OR (ds.dg = dd.dg AND e0.s < e0.d)
                      THEN e0.d ELSE e0.s END hi,
                 CASE WHEN ds.dg < dd.dg OR (ds.dg = dd.dg AND e0.s < e0.d)
                      THEN dd.dg ELSE ds.dg END dhi
          FROM e0 JOIN deg ds ON ds.node = e0.s JOIN deg dd ON dd.node = e0.d
        ), tri AS (
          SELECT w.p, w.lo, w.hi
          FROM (SELECT x.lo AS p, x.hi AS lo, y.hi AS hi
                FROM o x JOIN o y ON x.lo = y.lo
                WHERE x.dhi < y.dhi OR (x.dhi = y.dhi AND x.hi < y.hi)) w
          JOIN o z ON z.lo = w.lo AND z.hi = w.hi
        ), pn AS (
          SELECT node, CAST(COUNT(*) AS BIGINT) triangles
          FROM (SELECT p AS node FROM tri
                UNION ALL SELECT lo FROM tri
                UNION ALL SELECT hi FROM tri) GROUP BY 1
        )
        SELECT deg.node AS part, deg.dg AS degree,
               CAST(COALESCE(pn.triangles, 0) AS BIGINT) AS triangles,
               CASE WHEN deg.dg >= 2 THEN
                 CAST(2 * CAST(COALESCE(pn.triangles, 0) AS HUGEINT)
                      * 10000 // (CAST(deg.dg AS HUGEINT) * (deg.dg - 1))
                      AS BIGINT) END AS cc_bp
        FROM deg LEFT JOIN pn ON deg.node = pn.node"""
    # pagerank: 2 unrolled integer iterations over the mirrored graph,
    # every division a truncating // on nonnegative mass
    sql["part_pagerank"] = f"""
        WITH {_graph_edges},
        e AS (SELECT s, d FROM e0 UNION ALL SELECT d, s FROM e0),
        nodes AS (SELECT DISTINCT s AS node FROM e),
        od AS (SELECT s AS node, CAST(COUNT(*) AS HUGEINT) od
               FROM e GROUP BY 1),
        tot AS (SELECT CAST(COUNT(*) AS HUGEINT) n FROM nodes),
        r0 AS (
          SELECT node, CAST(1000000000000 AS HUGEINT) // tot.n AS rk,
                 (10000 - 8500) * (CAST(1000000000000 AS HUGEINT) // tot.n)
                   // 10000 AS base
          FROM nodes CROSS JOIN tot
        ),
        c1 AS (
          SELECT e.d AS node, SUM(r0.rk // od.od) cin
          FROM e JOIN r0 ON r0.node = e.s JOIN od ON od.node = e.s
          GROUP BY 1
        ),
        r1 AS (
          SELECT r0.node, r0.base,
                 r0.base + 8500 * COALESCE(c1.cin, 0) // 10000 AS rk
          FROM r0 LEFT JOIN c1 ON c1.node = r0.node
        ),
        c2 AS (
          SELECT e.d AS node, SUM(r1.rk // od.od) cin
          FROM e JOIN r1 ON r1.node = e.s JOIN od ON od.node = e.s
          GROUP BY 1
        ),
        r2 AS (
          SELECT r1.node, r1.base + 8500 * COALESCE(c2.cin, 0) // 10000 AS rk
          FROM r1 LEFT JOIN c2 ON c2.node = r1.node
        )
        SELECT node AS part, CAST(rk AS BIGINT) AS rank_e12 FROM r2"""
    # components: min-label transitive closure by recursive CTE over
    # the support->=3 sparsified graph (mirrored for both directions)
    sql["part_components"] = """
        WITH RECURSIVE
        pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        es AS (
          SELECT a.l_partkey AS s, b.l_partkey AS d
          FROM pp a JOIN pp b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2
          HAVING COUNT(DISTINCT a.l_orderkey) >= 3
        ),
        e AS (SELECT s, d FROM es UNION ALL SELECT d, s FROM es),
        reach(node, lbl) AS (
          SELECT s, s FROM e
          UNION
          SELECT e.d, reach.lbl FROM reach JOIN e ON e.s = reach.node
        )
        SELECT node AS part, MIN(lbl) AS component
        FROM reach GROUP BY 1"""
    # support->=2 sparsified co-order edges (shared CTE text for the
    # jaccard / label-propagation oracles)
    _sup2_edges = """
        pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        es AS (
          SELECT a.l_partkey AS s, b.l_partkey AS d
          FROM pp a JOIN pp b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2
          HAVING COUNT(DISTINCT a.l_orderkey) >= 2
        ),
        e AS (SELECT s, d FROM es UNION ALL SELECT d, s FROM es)"""
    # neighborhood jaccard: every-pivot wedge count under the same
    # deterministic hub cut (degree <= 10000), one // per pair
    sql["part_jaccard"] = f"""
        WITH {_sup2_edges},
        deg AS (SELECT s AS node, CAST(COUNT(*) AS BIGINT) dg
                FROM e GROUP BY 1),
        adj AS (
          SELECT e.s AS p, e.d AS nb
          FROM e JOIN deg ON deg.node = e.s
          WHERE deg.dg <= 10000
        ),
        pairs AS (
          SELECT a.nb AS na, b.nb AS nb2, CAST(COUNT(*) AS BIGINT) c
          FROM adj a JOIN adj b ON a.p = b.p AND a.nb < b.nb
          GROUP BY 1, 2
        )
        SELECT na AS part_a, nb2 AS part_b, c AS common,
               da.dg AS degree_a, db.dg AS degree_b,
               CAST(CAST(c AS HUGEINT) * 10000
                    // (da.dg + db.dg - c) AS BIGINT) AS jaccard_bp
        FROM pairs JOIN deg da ON da.node = na JOIN deg db ON db.node = nb2"""
    # label propagation: 2 unrolled synchronous rounds, most-frequent
    # neighbor label, smallest-label tie-break, seeds clamped
    sql["part_label_prop"] = f"""
        WITH {_sup2_edges},
        nodes AS (SELECT DISTINCT s AS n FROM e),
        seed AS (
          SELECT p_partkey AS n, CAST(p_brand AS VARCHAR) AS lbl
          FROM part
          WHERE p_partkey % 20 = 0
            AND p_partkey IS NOT NULL AND p_brand IS NOT NULL
        ),
        cur0 AS (
          SELECT nodes.n, seed.lbl AS sd, seed.lbl AS lbl
          FROM nodes LEFT JOIN seed ON seed.n = nodes.n
        ),
        v1 AS (
          SELECT e.s AS n, c.lbl AS nl, COUNT(*) c
          FROM e JOIN cur0 c ON c.n = e.d
          WHERE c.lbl IS NOT NULL GROUP BY 1, 2
        ),
        b1 AS (
          SELECT n, nl FROM (
            SELECT n, nl, ROW_NUMBER() OVER (
              PARTITION BY n ORDER BY c DESC, nl ASC) rk FROM v1)
          WHERE rk = 1
        ),
        cur1 AS (
          SELECT cur0.n, cur0.sd, COALESCE(cur0.sd, b1.nl, cur0.lbl) AS lbl
          FROM cur0 LEFT JOIN b1 ON b1.n = cur0.n
        ),
        v2 AS (
          SELECT e.s AS n, c.lbl AS nl, COUNT(*) c
          FROM e JOIN cur1 c ON c.n = e.d
          WHERE c.lbl IS NOT NULL GROUP BY 1, 2
        ),
        b2 AS (
          SELECT n, nl FROM (
            SELECT n, nl, ROW_NUMBER() OVER (
              PARTITION BY n ORDER BY c DESC, nl ASC) rk FROM v2)
          WHERE rk = 1
        ),
        cur2 AS (
          SELECT cur1.n, cur1.sd, COALESCE(cur1.sd, b2.nl, cur1.lbl) AS lbl
          FROM cur1 LEFT JOIN b2 ON b2.n = cur1.n
        )
        SELECT n AS part, lbl AS label, sd IS NOT NULL AS is_seed
        FROM cur2"""
    # poisson bootstrap: identical md5 24-bit draws vs integer CDF
    # thresholds, replicate means by truncating //, order statistics
    # with replicate-id tie-break
    sql["orders_bootstrap_ci"] = """
        WITH base AS (
          SELECT o_orderpriority AS g, CAST(o_orderkey AS VARCHAR) AS id,
                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
          FROM orders
          WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
        ), pt AS (
          SELECT g, CAST(COUNT(*) AS BIGINT) n,
                 CAST(SUM(CAST(v AS HUGEINT)) // COUNT(*) AS BIGINT)
                   AS mean_cents
          FROM base GROUP BY 1
        ), hashed AS (
          SELECT g, v,
                 CAST(('0x' || substr(md5('42' || '|' || id), 1, 8))
                      AS BIGINT) AS h1,
                 CAST(('0x' || substr(md5('42' || '|' || id), 9, 8))
                      AS BIGINT) AS h2
          FROM base
        ), drawn AS (
          SELECT g, b.b, v, (h1 + b.b * (h2 | 1)) % 16777216 AS u
          FROM hashed CROSS JOIN (SELECT UNNEST(range(0, 100)) AS b) b
        ), wtd AS (
          SELECT g, b, v,
                 CASE WHEN u < 6171992 THEN 0 WHEN u < 12343985 THEN 1
                      WHEN u < 15429982 THEN 2 WHEN u < 16458647 THEN 3
                      WHEN u < 16715813 THEN 4 WHEN u < 16767247 THEN 5
                      WHEN u < 16775819 THEN 6 WHEN u < 16777044 THEN 7
                      WHEN u < 16777197 THEN 8 ELSE 9 END AS w
          FROM drawn
        ), means AS (
          SELECT g, b,
                 CAST(SUM(CAST(w AS HUGEINT) * v) // SUM(w) AS BIGINT)
                   AS m
          FROM wtd GROUP BY 1, 2 HAVING SUM(w) > 0
        ), ranked AS (
          SELECT g, m,
                 ROW_NUMBER() OVER (PARTITION BY g ORDER BY m, b) - 1 AS rn,
                 COUNT(*) OVER (PARTITION BY g) AS beff
          FROM means
        ), ci AS (
          SELECT g,
                 MAX(CASE WHEN rn = 500 * (beff - 1) // 20000 THEN m END)
                   AS ci_lo_cents,
                 MAX(CASE WHEN rn = beff - 1 - 500 * (beff - 1) // 20000
                     THEN m END) AS ci_hi_cents,
                 CAST(MAX(beff) AS BIGINT) AS n_boot
          FROM ranked GROUP BY 1
        )
        SELECT pt.g AS o_orderpriority, pt.n, pt.mean_cents,
               ci.ci_lo_cents, ci.ci_hi_cents, ci.n_boot
        FROM pt JOIN ci ON ci.g = pt.g"""
    # docs_approx_quantiles: intentionally NO oracle — sketch outputs
    # are engine-specific by nature; the driver records its rows-only
    # check and tests/test_sketch_modes.py pins the rank-error bound.
    return sql
