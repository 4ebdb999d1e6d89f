"""BroadcastRetriever: RAG context for semantic maps (reference:
retrievers/base.py protocol, retrievers/lancedb.py vector/fts search,
map integration operations/map.py:519-523)."""

import pytest

from docetl_spark import BroadcastRetriever, FakeBackend
from docetl_spark.operators.semantic import semantic_map


@pytest.fixture()
def corpus(spark):
    rows = [
        {"kb_id": 1, "fact": "spark shuffles on groupBy and join"},
        {"kb_id": 2, "fact": "duckdb is an embedded analytics database"},
        {"kb_id": 3, "fact": "parquet stores columns with statistics"},
        {"kb_id": 4, "fact": "arrow moves batches between jvm and python"},
    ]
    return spark.createDataFrame(rows)


def test_fts_retrieve_ranks_overlap(spark, corpus):
    r = BroadcastRetriever(corpus, None, text_keys=["fact"], mode="fts", k=2)
    r.ensure_index()
    res = r.retrieve({"q": "why does spark shuffle on join"})
    # default query keys = text_keys; pass explicit phrase via query_keys
    r2 = BroadcastRetriever(corpus, None, text_keys=["fact"], mode="fts", k=2,
                            query_keys=["q"])
    r2.ensure_index()
    res2 = r2.retrieve({"q": "why does spark shuffle on join"})
    assert res2.docs[0]["kb_id"] == 1  # shuffle/join overlap wins
    assert len(res2.docs) == 2
    assert "[doc 1]" in res2.rendered_context
    assert res is not None  # smoke for default query keys


def test_vector_retrieve_self_similarity(spark, corpus):
    be = FakeBackend()
    r = BroadcastRetriever(corpus, be, text_keys=["fact"], mode="vector", k=1,
                           query_keys=["fact"])
    r.ensure_index()
    # querying with an exact corpus text retrieves that doc (cosine = 1)
    res = r.retrieve({"fact": "parquet stores columns with statistics"})
    assert res.docs[0]["kb_id"] == 3
    assert res.docs[0]["_score"] == pytest.approx(1.0, abs=1e-9)


def test_semantic_map_with_retriever(spark, corpus):
    docs = spark.createDataFrame([
        {"id": 1, "question": "spark shuffle join"},
        {"id": 2, "question": "embedded analytics duckdb"},
    ])
    seen = {}

    class Spy(FakeBackend):
        def complete(self, prompt, output_schema, context):
            return {"answer": prompt.split("CTX:")[1][:30]}

    r = BroadcastRetriever(corpus, None, text_keys=["fact"], mode="fts", k=1,
                           query_keys=["question"])
    out = semantic_map(
        docs,
        "Answer {{ input.question }} CTX:{{ retrieved_context }}",
        {"answer": "str"},
        Spy(),
        retriever=r,
        save_retriever_output=True,
    ).collect()
    by_id = {row["id"]: row for row in out}
    assert "shuffles" in by_id[1]["_retrieved_context"]
    assert "duckdb" in by_id[2]["_retrieved_context"]
    assert by_id[1]["answer"].startswith("[doc 1]")
    assert seen == {}


def test_broadcast_gate(spark, corpus):
    r = BroadcastRetriever(corpus, None, text_keys=["fact"], mode="fts",
                           max_broadcast_rows=2)
    with pytest.raises(ValueError, match="max_broadcast_rows"):
        r.ensure_index()


def test_broadcast_gate_byte_aware(spark, corpus):
    # few rows but wide payloads must trip the BYTE gate (row-only gates
    # admit multi-GB collects on wide documents — VERDICT r4 #1)
    from pyspark.sql import functions as F

    wide = corpus.withColumn("blob", F.repeat(F.lit("x"), 200_000))
    r = BroadcastRetriever(wide, None, text_keys=["fact"], mode="fts",
                           max_broadcast_bytes=100_000)
    with pytest.raises(ValueError, match="max_broadcast_bytes"):
        r.ensure_index()
    # normal corpus under both gates still indexes
    ok = BroadcastRetriever(corpus, None, text_keys=["fact"], mode="fts")
    ok.ensure_index()
    assert ok._index is not None


def test_retrieve_context_join_distributed(spark, corpus):
    """Join-based retrieval: every row gets rendered context with no
    driver-side index; identical text retrieves itself first (brute)."""
    from pyspark.sql import functions as F

    from docetl_spark.retrievers import retrieve_context_join

    be = FakeBackend()
    df = spark.createDataFrame(
        [
            {"qid": 1, "question": "spark shuffles on groupBy and join"},
            {"qid": 2, "question": "parquet stores columns with statistics"},
        ]
    )
    out = retrieve_context_join(
        df, corpus, be, text_keys=["fact"], query_keys=["question"], k=2, method="brute"
    )
    rows = {r["qid"]: r["_retrieved_context"] for r in out.collect()}
    assert set(rows) == {1, 2}
    # FakeBackend embeddings are deterministic per text -> identical text
    # is the nearest neighbor
    assert rows[1].startswith("[doc 1] spark shuffles on groupBy and join")
    assert rows[2].startswith("[doc 1] parquet stores columns with statistics")

    # lsh path: no broadcast of the query side, still non-empty contexts
    out_lsh = retrieve_context_join(
        df, corpus, be, text_keys=["fact"], query_keys=["question"], k=2, method="lsh"
    )
    assert out_lsh.filter(F.col("_retrieved_context") != "").count() >= 1


def test_semantic_map_precomputed_context_col(spark, corpus):
    from docetl_spark.retrievers import retrieve_context_join

    be = FakeBackend(rules={"answer": lambda row: row.get("question", "")[:5]})
    df = spark.createDataFrame([{"qid": 1, "question": "spark shuffles on groupBy and join"}])
    with_ctx = retrieve_context_join(
        df, corpus, be, text_keys=["fact"], query_keys=["question"], k=1, method="brute"
    )
    out = semantic_map(
        with_ctx,
        "Use context: {{ retrieved_context }} for {{ input.question }}",
        {"answer": "str"},
        be,
        retrieved_context_col="_retrieved_context",
    )
    rows = out.collect()
    assert rows and rows[0]["answer"] == "spark"


def test_retrieve_context_join_dedupes_corpus_and_rows(spark):
    from docetl_spark.retrievers import retrieve_context_join

    be = FakeBackend()
    corpus = spark.createDataFrame(
        [{"fact": "alpha beta gamma"}] * 3 + [{"fact": "delta epsilon zeta"}]
    )
    df = spark.createDataFrame([{"q": "alpha beta gamma"}, {"q": "alpha beta gamma"}])
    out = retrieve_context_join(df, corpus, be, text_keys=["fact"], query_keys=["q"], k=2, method="brute")
    rows = [r["_retrieved_context"] for r in out.collect()]
    assert len(rows) == 2  # duplicate input rows both come back
    for ctx in rows:
        # duplicated corpus doc fills exactly ONE slot; distinct doc fills the other
        assert ctx.count("alpha beta gamma") == 1
        assert "delta epsilon zeta" in ctx

    # re-running over prior output (refresh) must not collide on out_col
    again = retrieve_context_join(out, corpus, be, text_keys=["fact"], query_keys=["q"], k=1, method="brute")
    assert again.count() == 2


def test_semantic_map_rejects_missing_context_col(spark):
    import pytest

    df = spark.createDataFrame([{"q": "x"}])
    with pytest.raises(ValueError, match="not in input columns"):
        semantic_map(df, "{{ retrieved_context }}", {"a": "str"}, FakeBackend(),
                     retrieved_context_col="_typo")


# ------------------------------------------------------------- BM25


def _bm25_ref(docs, queries, k1=1.2, b=0.75):
    """Independent pure-Python BM25 (Lucene +1 idf) for cross-checking."""
    import math
    import re

    tok = lambda s: [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t]
    corpus = {d: tok(t) for d, t in docs}
    n = len(corpus)
    avgdl = sum(len(v) for v in corpus.values()) / n
    out = {}
    for qid, q in queries:
        scores = {}
        for term in dict.fromkeys(tok(q)):
            df = sum(1 for v in corpus.values() if term in v)
            if df == 0:
                continue
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            for d, v in corpus.items():
                tf = v.count(term)
                if tf == 0:
                    continue
                tfn = tf * (k1 + 1.0) / (tf + k1 * (1 - b + b * len(v) / avgdl))
                scores[d] = scores.get(d, 0.0) + idf * tfn
        out[qid] = scores
    return out


def test_bm25_topk_matches_reference_math(spark):
    from docetl_spark.retrievers import bm25_topk

    docs = [
        (1, "spark join performance tuning"),
        (2, "slow merge sort on the cluster"),
        (3, "join join join everywhere join"),
        (4, "completely unrelated text about cats"),
        (5, "performance of the spark engine and spark shuffles"),
    ]
    queries = [("a", "spark join"), ("b", "merge performance")]
    got = bm25_topk(
        spark.createDataFrame(docs, ["doc_id", "text"]),
        spark.createDataFrame(queries, ["query_id", "query"]),
        k=3,
    ).collect()
    ref = _bm25_ref(docs, queries)
    for r in got:
        assert abs(ref[r["query_id"]][r["doc_id"]] - r["score"]) < 1e-6
    # per-query ranking matches the reference ordering
    for qid in ("a", "b"):
        mine = [r["doc_id"] for r in sorted(
            (r for r in got if r["query_id"] == qid), key=lambda r: r["rank"])]
        want = [d for d, _ in sorted(
            ref[qid].items(), key=lambda kv: (-round(kv[1], 6), kv[0]))][: len(mine)]
        assert mine == want


def test_bm25_topk_repeated_query_terms_dedupe(spark):
    from docetl_spark.retrievers import bm25_topk

    docs = spark.createDataFrame([(1, "alpha beta"), (2, "alpha alpha")], ["doc_id", "text"])
    q1 = spark.createDataFrame([("q", "alpha")], ["query_id", "query"])
    q2 = spark.createDataFrame([("q", "alpha alpha alpha")], ["query_id", "query"])
    s1 = {r["doc_id"]: r["score"] for r in bm25_topk(docs, q1, k=5).collect()}
    s2 = {r["doc_id"]: r["score"] for r in bm25_topk(docs, q2, k=5).collect()}
    assert s1 == s2  # qtf is not modelled; terms dedupe per query


def test_bm25_topk_no_match_query_yields_no_rows(spark):
    from docetl_spark.retrievers import bm25_topk

    docs = spark.createDataFrame([(1, "alpha beta")], ["doc_id", "text"])
    qs = spark.createDataFrame([("q", "zzz qqq")], ["query_id", "query"])
    assert bm25_topk(docs, qs, k=5).count() == 0


def test_bm25_topk_k_cuts_per_query(spark):
    from docetl_spark.retrievers import bm25_topk

    docs = spark.createDataFrame(
        [(i, f"alpha common{i}") for i in range(10)], ["doc_id", "text"]
    )
    qs = spark.createDataFrame([("q", "alpha")], ["query_id", "query"])
    rows = bm25_topk(docs, qs, k=4).collect()
    assert len(rows) == 4
    assert sorted(r["rank"] for r in rows) == [1, 2, 3, 4]
    # equal scores tie-break by doc_id ascending
    assert [r["doc_id"] for r in sorted(rows, key=lambda r: r["rank"])] == [0, 1, 2, 3]


# ----------------------------------------------------------- hybrid

def test_hybrid_retrieve_rrf_fusion(spark, corpus):
    """hybrid = RRF of the vector and fts top-k lists (reference
    lancedb.py hybrid search): a doc that is rank-1 in BOTH lists must
    fuse above docs present in only one list."""
    be = FakeBackend()
    r = BroadcastRetriever(corpus, be, text_keys=["fact"], mode="hybrid",
                           k=2, query_keys=["fact"])
    r.ensure_index()
    # exact corpus text: vector rank 1 (cosine 1.0) AND fts rank 1
    res = r.retrieve({"fact": "parquet stores columns with statistics"})
    assert res.docs[0]["kb_id"] == 3
    # fused score of the double-rank-1 winner = 2/(60+1)
    assert res.docs[0]["_score"] == pytest.approx(2.0 / 61.0)
    assert len(res.docs) == 2
    # the double-rank-1 winner strictly dominates any other fusion
    # (best possible runner-up is double-rank-2 = 2/62 < 2/61)
    assert res.docs[1]["_score"] < res.docs[0]["_score"]


def test_hybrid_requires_backend(spark, corpus):
    with pytest.raises(ValueError, match="hybrid"):
        BroadcastRetriever(corpus, None, text_keys=["fact"], mode="hybrid")


def test_retrieve_context_join_hybrid(spark, corpus):
    """Distributed hybrid: RRF of lsh/brute vector list + BM25 list."""
    from docetl_spark.retrievers import retrieve_context_join

    docs = spark.createDataFrame([
        {"id": 1, "q": "spark shuffles on groupBy and join"},  # exact corpus text
        {"id": 2, "q": "duckdb is an embedded analytics database"},
    ])
    out = retrieve_context_join(
        docs, corpus.selectExpr("fact as ctext"), FakeBackend(),
        text_keys=["ctext"], query_keys=["q"], k=2,
        method="hybrid", hybrid_vector_method="brute",
    ).collect()
    by_id = {r["id"]: r["_retrieved_context"] for r in out}
    # identical text wins both lists -> doc 1 of the fused context
    assert by_id[1].startswith("[doc 1] spark shuffles on groupBy and join")
    assert by_id[2].startswith("[doc 1] duckdb is an embedded analytics database")
    assert "[doc 2]" in by_id[1]  # k=2 fused contexts render both slots


def test_retrieve_context_hybrid_via_frame_and_yaml(spark, corpus):
    """mode wiring: the SemanticFrame verb and the YAML op both accept
    method='hybrid' through their open kwargs."""
    from docetl_spark import SemanticFrame
    from docetl_spark.plans.compiler import apply_op

    docs = spark.createDataFrame(
        [{"id": 1, "q": "parquet stores columns with statistics"}])
    sf = SemanticFrame.from_df(docs, backend=FakeBackend())
    out = sf.retrieve_context(
        corpus.selectExpr("fact as ctext"), text_keys=["ctext"],
        query_keys=["q"], k=1,
        method="hybrid", hybrid_vector_method="brute",
    ).collect()
    assert out[0]["_retrieved_context"].startswith(
        "[doc 1] parquet stores columns with statistics")
    from docetl_spark.plans.ir import OpSpec

    spec = OpSpec(type="retrieve_context", config={
        "corpus": "kb", "text_keys": ["ctext"], "query_keys": ["q"],
        "k": 1, "method": "hybrid",
        "hybrid_vector_method": "brute",
    })
    kb = SemanticFrame.from_df(
        corpus.selectExpr("fact as ctext"), backend=FakeBackend())
    got = apply_op(sf, spec, {"kb": kb}).collect()
    assert got[0]["_retrieved_context"].startswith(
        "[doc 1] parquet stores columns with statistics")
