"""Round-11 optimization wave C: focused tests for changed internals.

Covers (a) the persist + release-handle convention on the contingency
/ text ops that now cache their multi-referenced intermediate, (b) the
window-based doc-frequency cap in _fp_pairs (replacing the agg +
join-back), and (c) content-keyed retrieve_context_join (retrieval is
a pure function of the query text).
Result SEMANTICS of each op are pinned elsewhere (unit suites + the
DuckDB oracle gate) — these tests pin the new mechanics.
"""

import pytest
from pyspark.sql import functions as F

from docetl_spark import FakeBackend


def _release(out):
    cached = getattr(out, "_docetl_cached_input", None)
    assert cached is not None, "release handle missing"
    assert cached.is_cached, "release handle is not a persisted frame"
    cached.unpersist()


def test_contingency_ops_attach_persisted_release_handles(spark):
    from docetl_spark.functions.mlstats import (
        cohen_kappa_by,
        cramers_v2,
        dist_drift,
        impurity_by,
        kruskal_wallis_by,
        mutual_info_by,
        psi_by,
        woe_table,
    )
    from docetl_spark.functions.stats import chi_square_bp

    df = spark.createDataFrame(
        [{"a": str(i % 3), "b": str(i % 2), "p": "base" if i % 2 else "cur",
          "v": i % 5, "g": str(i % 2)} for i in range(40)]
    )
    for out in (
        chi_square_bp(df, "a", "b"),
        cramers_v2(df, "a", "b"),
        mutual_info_by(df, "a", "b"),
        cohen_kappa_by(df, "a", "b"),
        woe_table(df.withColumn("y", (F.col("v") % 2 == 0).cast("int")),
                  "a", "y"),
        psi_by(df, "a", "p", base="base", current="cur"),
        dist_drift(df, "a", "p", base="base", current="cur"),
        dist_drift(df, "a", "p", base="base", current="cur", detail=True),
        impurity_by(df, "a", "b"),
        kruskal_wallis_by(df, "v", "g"),
    ):
        out.collect()  # the handle must survive an action
        _release(out)


def test_spearman_global_path_caches_base(spark):
    # the GLOBAL midrank path runs two offset-collect actions plus the
    # final sums — base persists (with release handle) so its lineage
    # computes once; the grouped path stays uncached (no extra actions)
    from docetl_spark.functions.mlstats import spearman_by

    df = spark.createDataFrame(
        [{"x": i % 7, "y": (i * 3) % 5, "g": str(i % 2)} for i in range(60)]
    )
    out = spearman_by(df, "x", "y")
    row = out.collect()[0]
    assert row["n"] == 60
    _release(out)

    grouped = spearman_by(df, "x", "y", by=["g"])
    assert grouped.count() == 2
    assert getattr(grouped, "_docetl_cached_input", None) is None


def test_text_ops_attach_persisted_release_handles(spark):
    # (vocab_growth's persist was measured a regression at sf0.1 and
    # reverted — only ngram_novelty carries the handle)
    from docetl_spark.functions.text import ngram_novelty

    docs = spark.createDataFrame(
        [{"doc_id": i, "text": f"alpha beta gamma delta tok{i}"}
         for i in range(12)]
    )
    out = ngram_novelty(docs, "text", id_col="doc_id", n=2)
    out.collect()
    _release(out)


def test_fp_pairs_window_cap_matches_agg_semantics(spark):
    # doc-freq cap: a fingerprint present in > max_doc_freq docs must
    # not generate pairs; surviving fingerprints count as before
    from docetl_spark.functions.passages import _fp_pairs

    fps = spark.createDataFrame(
        [{"doc_id": 1, "fp": "x"}, {"doc_id": 2, "fp": "x"},
         {"doc_id": 3, "fp": "x"},
         {"doc_id": 1, "fp": "y"}, {"doc_id": 2, "fp": "y"}]
    )
    uncapped = _fp_pairs(fps, "doc_id", min_common=1, max_doc_freq=None)
    got = {(r["id_a"], r["id_b"]): r["n_common"] for r in uncapped.collect()}
    assert got == {(1, 2): 2, (1, 3): 1, (2, 3): 1}
    _release(uncapped)

    capped = _fp_pairs(fps, "doc_id", min_common=1, max_doc_freq=2)
    got = {(r["id_a"], r["id_b"]): r["n_common"] for r in capped.collect()}
    assert got == {(1, 2): 1}  # "x" (3 docs) suppressed, "y" kept
    _release(capped)


def test_retrieve_context_join_is_text_keyed(spark):
    # duplicate query TEXTS retrieve identical contexts, and every input
    # row comes back exactly once
    from docetl_spark.retrievers import retrieve_context_join

    be = FakeBackend()
    corpus = spark.createDataFrame(
        [{"fact": "alpha beta gamma"}, {"fact": "delta epsilon zeta"},
         {"fact": "eta theta iota"}]
    )
    df = spark.createDataFrame(
        [{"rid": 1, "q": "alpha beta gamma", "extra": "p"},
         {"rid": 2, "q": "alpha beta gamma", "extra": "qq"},
         {"rid": 3, "q": "delta epsilon zeta", "extra": "r"}]
    )
    out = retrieve_context_join(
        df, corpus, be, text_keys=["fact"], query_keys=["q"], k=2,
        method="brute",
    ).collect()
    assert sorted(r["rid"] for r in out) == [1, 2, 3]
    by_rid = {r["rid"]: r["_retrieved_context"] for r in out}
    # same text (rids 1, 2) -> byte-identical context, despite distinct
    # ids and distinct non-query columns
    assert by_rid[1] == by_rid[2]
    assert by_rid[3] != by_rid[1]
