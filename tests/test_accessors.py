"""df.semantic.* accessor tests (reference pd_accessors parity)."""

from docetl_spark import FakeBackend
from docetl_spark.accessors import install
from docetl_spark.frame import SemanticFrame


def test_accessor_map_filter_agg(spark, docs):
    install(backend=FakeBackend(rules={
        "n_words": lambda row: len(row["text"].split()),
        "keep": lambda row: row["category"] == "review",
        "total": lambda items: len(items),
    }))
    mapped = docs.semantic.map("count {{ input.text }}", {"n_words": "int"})
    assert mapped.filter("n_words = 8").count() == 1

    kept = docs.semantic.filter("review? {{ input.text }}", {"keep": "bool"})
    assert kept.count() == 2

    agged = docs.semantic.agg("category", "n {{ inputs | length }}", {"total": "int"})
    assert {r["category"]: r["total"] for r in agged.collect()}["review"] == 2


def test_accessor_topk_llm_compare(spark, docs):
    be = FakeBackend(rules={"rating": lambda row: float(row["id"])})
    out = (
        SemanticFrame.from_df(docs, backend=be)
        .topk("llm_compare", 2, rank_method="likert", prompt="rate {{ input.text }}",
              direction="desc", tiebreak=["id"])
        .collect()
    )
    assert sorted(r["id"] for r in out) == [3, 4]


def test_accessor_delegates_full_frame_surface(spark, sf_dir):
    from docetl_spark.accessors import install

    install()
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    acc = df.semantic
    packed = acc.pack_sequences(budget=128, text_col="text", id_cols=["doc_id"], order_cols=["doc_id"], n_shards=2)
    assert packed.count() > 0 and "seq_id" in packed.columns
    assert acc.history == ["pack_sequences"]
    from pyspark.sql import functions as F
    deduped = df.semantic.dedup_exact("text", order_by=[F.col("doc_id").asc()])
    assert 0 < deduped.count() <= df.count()


def test_frame_estimate_cost_dry_run(spark):
    """frame.estimate_cost(): pre-run cost dry-run under the directive
    cost model; measured=True grounds it in observed rows."""
    from docetl_spark import FakeBackend, SemanticFrame

    docs = SemanticFrame.read_parquet(
        spark, "/root/testdata/sf0.001/documents.parquet", backend=FakeBackend()
    )
    base = docs.map("tag {{ input.text }}", {"tag": "str"})
    est = base.estimate_cost()
    assert est > 0
    # an extra model stage costs more under the same stats
    est2 = base.map("again {{ input.tag }}", {"tag2": "str"}).estimate_cost()
    assert est2 > est
    # measured: real SOURCE row count — and the estimate must NOT execute
    # the model stage (counting the post-map frame would pay every call)
    class Exploding(FakeBackend):
        def complete(self, prompt, output_schema, context):
            raise AssertionError("estimate_cost executed a model call")

    armed = SemanticFrame.read_parquet(
        spark, "/root/testdata/sf0.001/documents.parquet", backend=Exploding()
    ).map("tag {{ input.text }}", {"tag": "str"})
    assert isinstance(armed.estimate_cost(measured=True), float)


def test_frame_sample_smart_and_stratified_methods(spark):
    from docetl_spark import SemanticFrame
    from pyspark.sql import functions as F

    docs = SemanticFrame.read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
    assert docs.sample("smart", 10).df.count() == 10
    strat = docs.sample(
        "stratified", 2, stratify_key="lang", order_by=[F.col("doc_id").asc()]
    )
    per = strat.df.groupBy("lang").count().collect()
    assert all(r["count"] == 2 for r in per)


def test_frame_analytics_verbs_chain(spark):
    """The round-6 analytics verbs compose through the Frame API and
    keep memoized lineage (config chain grows per verb)."""
    from pyspark.sql import functions as F

    from docetl_spark import SemanticFrame

    ev = spark.createDataFrame(
        [(1, "u1", 100, "view", 1.0), (2, "u1", 200, "click", 2.0),
         (3, "u2", 100, "view", 3.0), (4, "u2", 150, "view", 1.5)],
        ["event_id", "user_id", "ts", "event_type", "value"],
    )
    fr = SemanticFrame(ev)
    fun = fr.funnel(["view", "click"], tiebreak="event_id")
    assert {r["user_id"]: r["reached"] for r in fun.df.collect()} == {"u1": 2, "u2": 1}
    sk = fr.skew_profile(["user_id"], top=1)
    assert sk.df.collect()[0]["n_rows"] == 2
    q = fr.exact_quantiles("value", [0.5], by=["user_id"])
    got = {r["user_id"]: r["p50"] for r in q.df.collect()}
    assert got == {"u1": 1.5, "u2": 2.25}
    sp = fr.split_exact(id_cols=["event_id"], weights={"t": 3, "v": 1})
    assert sp.df.filter(F.col("split") == "t").count() == 3
    docs = SemanticFrame(spark.createDataFrame([(1, "alpha beta"), (2, "alpha")], ["doc_id", "text"]))
    qs = spark.createDataFrame([("q", "alpha")], ["query_id", "query"])
    assert docs.bm25_topk(qs, k=1).df.count() == 1
    hop = fr.hopping_rollup({"n": F.count(F.lit(1))}, ts_col="ts",
                            every_ns=100, size_ns=200)
    assert hop.df.filter(F.col("window_start") == 100).count() == 1


def test_round6_timeseries_and_cooccurrence_verbs(spark):
    """gap_fill / time_weighted_avg / cohort_retention / cooccurrence_stats
    as SemanticFrame verbs: thin delegations to the functions modules."""
    from pyspark.sql import functions as F

    from docetl_spark import SemanticFrame

    ev = SemanticFrame(spark.createDataFrame(
        [(1, 5, 10), (1, 42, 7), (2, 30, 1)], ["user_id", "ts", "v"]))
    gf = ev.gap_fill("ts", keys=["user_id"], bucket_width=10,
                     aggs={"n": F.count(F.lit(1)), "s": F.sum("v")},
                     locf_cols=["s"])
    rows = {(r["user_id"], r["bucket_start"]): r["s_filled"] for r in gf.df.collect()}
    assert rows[(1, 20)] == 10 and len(rows) == 6

    twa = ev.time_weighted_avg("ts", "v", keys=["user_id"])
    got = {r["user_id"]: r["twa"] for r in twa.df.collect()}
    assert got[2] == 1.0  # single sample -> mean
    # u1: (10+7)/2 * 37 / 37 = 8.5
    assert got[1] == 8.5

    co = ev.cohort_retention("ts", "user_id", period=10)
    cells = {(r["cohort_period"], r["period_offset"]): r["n_active"]
             for r in co.df.collect()}
    assert cells[(0, 0)] == 1 and cells[(0, 4)] == 1 and cells[(30, 0)] == 1

    docs = SemanticFrame(spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "b c")], ["doc_id", "text"]))
    cs = docs.cooccurrence_stats("text", id_col="doc_id", vocab_size=5)
    pairs = {(r["t_a"], r["t_b"]): r["df_ab"] for r in cs.df.collect()}
    assert pairs == {("a", "b"): 2, ("b", "c"): 1}


def test_sessionize_and_rolling_features_verbs(spark):
    from pyspark.sql import functions as F

    from docetl_spark import SemanticFrame

    ev = SemanticFrame(spark.createDataFrame(
        [(1, "u1", 100, 5), (2, "u1", 130, 3), (3, "u1", 500, 2), (4, "u2", 10, 1)],
        ["event_id", "user_id", "ts", "v"]))
    ses = ev.sessionize(keys=["user_id"], ts_col="ts", gap=100,
                        tiebreak="event_id")
    got = {r["event_id"]: r["session_id"] for r in ses.df.collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 1}

    roll = ev.rolling_features("ts", keys=["user_id"],
                               value_aggs={"v_sum": F.sum("v")},
                               lookback_rows=2, tiebreak=["event_id"])
    rows = {r["event_id"]: (r["event_idx"], r["v_sum"]) for r in roll.df.collect()}
    assert rows[2] == (2, 8) and rows[3] == (3, 5)


def test_near_dup_simhash_and_retrieve_context_verbs(spark):
    from docetl_spark import FakeBackend, SemanticFrame

    base = " ".join(f"tok{i}" for i in range(30))
    docs = SemanticFrame(spark.createDataFrame(
        [(1, base), (2, base),  # identical -> hamming 0, inside the guarantee
         (3, "completely different words appear in this text")],
        ["doc_id", "text"]))
    pairs = docs.near_dup_simhash("doc_id", "text", max_hamming=3).df.collect()
    assert {(r["id_a"], r["id_b"], r["hamming"]) for r in pairs} == {(1, 2, 0)}

    rag = SemanticFrame(docs.df, backend=FakeBackend())
    corpus = spark.createDataFrame([("fox",), ("cat",)], ["ctext"])
    out = rag.retrieve_context(corpus, text_keys=["ctext"],
                               query_keys=["text"], k=1,
                               method="brute")
    got = out.df.collect()
    assert len(got) == 3
    assert all(r["_retrieved_context"].startswith("[doc 1] ") for r in got)


def test_plan_report_shape(spark, sf_dir):
    from docetl_spark import SemanticFrame

    sf = (SemanticFrame.read_parquet(spark, f"{sf_dir}/lineitem.parquet")
          .code_filter("l_quantity > 10"))
    rep = sf.plan_report()
    assert rep["forbidden"] == []
    assert rep["exchanges"] == 0              # pure scan+filter: no shuffle
    assert rep["codegen_stages"] >= 1
    assert any("l_quantity" in f for f in rep["pushed_filters"])

    # a groupBy adds exactly one exchange
    agg = sf.df.groupBy("l_returnflag").count()
    rep2 = SemanticFrame.from_df(agg).plan_report()
    assert rep2["exchanges"] == 1
