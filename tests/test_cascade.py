"""BARGAIN-style cascade calibration: guarantee math (pure python) and
operator integration. Mirrors the reference's cascade engine tests —
"intentionally free of any DocETL imports so it can be unit tested
against synthetic proxy/oracle functions" (cascade.py docstring).
"""

import math

import pytest

from docetl_spark.operators.cascade import (
    CascadeSpec,
    calibrate,
    calibrate_accuracy,
    calibrate_binary,
    hoeffding_lcb,
)


def test_hoeffding_lcb_shrinks_with_n():
    assert hoeffding_lcb(0.9, 10, 0.05) < hoeffding_lcb(0.9, 1000, 0.05) < 0.9
    assert hoeffding_lcb(0.9, 0, 0.05) == 0.0


def test_recall_picks_largest_feasible_threshold():
    # 400 positives at score 0.9, 40 at 0.5, plus clear negatives at 0.1:
    # recall at t=0.9 is 400/440 = 0.909 with a tight LCB; at t=0.5 it is 1
    scores = [0.9] * 400 + [0.5] * 40 + [0.1] * 200
    truth = [True] * 440 + [False] * 200
    # recall at t=0.9: r_hat = 400/440 = 0.909, LCB = 0.909 -
    # sqrt(ln(3/0.05)/880) = 0.841 — feasible at target 0.84
    spec = CascadeSpec(guarantee="recall", target=0.84, delta=0.05)
    res = calibrate_binary(scores, truth, spec)
    assert res.feasible and res.threshold == 0.9
    n_pos, m = 440, 3
    r_hat = 400 / 440
    assert r_hat - math.sqrt(math.log(m / 0.05) / (2 * n_pos)) >= 0.84

    # tighter target pushes the threshold down to 0.5 (recall 1 there,
    # LCB 0.932)
    res2 = calibrate_binary(scores, truth, CascadeSpec(guarantee="recall", target=0.93))
    assert res2.feasible and res2.threshold == 0.5


def test_recall_infeasible_falls_back_to_keep_all():
    # 5 positives: even perfect empirical recall has LCB 1-sqrt(ln(m/d)/10)
    scores = [0.9] * 5 + [0.1] * 5
    truth = [True] * 5 + [False] * 5
    res = calibrate_binary(scores, truth, CascadeSpec(guarantee="recall", target=0.95))
    assert not res.feasible and res.threshold == float("-inf")


def test_precision_picks_smallest_feasible_threshold():
    # scores 0.9 are 99% precise (400 TP / 4 FP); 0.5 only 50%
    scores = [0.9] * 404 + [0.5] * 100
    truth = [True] * 400 + [False] * 4 + [True] * 50 + [False] * 50
    res = calibrate_binary(scores, truth, CascadeSpec(guarantee="precision", target=0.9))
    assert res.feasible and res.threshold == 0.9
    res2 = calibrate_binary(scores, truth, CascadeSpec(guarantee="precision", target=0.999))
    assert not res2.feasible and res2.threshold == float("inf")


def test_accuracy_threshold_on_confidence():
    # confident predictions (0.95) are right 98% of the time; 0.55 coin-flip
    confs = [0.95] * 500 + [0.55] * 100
    correct = [True] * 490 + [False] * 10 + [True] * 50 + [False] * 50
    res = calibrate_accuracy(confs, correct, CascadeSpec(guarantee="accuracy", target=0.9))
    assert res.feasible and res.threshold == 0.95


def test_calibrate_dispatch_accuracy_uses_confidence():
    # p(true)=0.05 is CONFIDENT (conf 0.95) for the negative label
    scores = [0.95] * 200 + [0.05] * 200
    proxy = [p >= 0.5 for p in scores]
    oracle = [True] * 200 + [False] * 200  # proxy always right
    res = calibrate(scores, proxy, oracle, CascadeSpec(guarantee="accuracy", target=0.9))
    assert res.feasible and res.threshold == 0.95


def test_spec_validation():
    with pytest.raises(ValueError, match="guarantee"):
        CascadeSpec(guarantee="f1")
    with pytest.raises(ValueError, match="target"):
        CascadeSpec(target=1.5)
    with pytest.raises(ValueError, match="delta"):
        CascadeSpec(delta=0.0)


def test_filter_calibrated_recall_end_to_end(spark):
    """Recall cascade in semantic_filter: proxy-low rows are dropped
    without an oracle call; the chosen threshold keeps calibrated recall
    above target."""
    from docetl_spark import FakeBackend, SemanticFrame

    class _Backend(FakeBackend):
        def __init__(self):
            super().__init__()
            self.oracle_calls = 0

        def classify_logprob(self, prompt, labels, context):
            text = context.get("text", "") if isinstance(context, dict) else ""
            if "keepme" in text:
                return "true", 0.9
            if "dropme" in text:
                return "false", 0.9
            return "false", 0.5

        def complete(self, prompt, output_schema, context):
            self.oracle_calls += 1
            return {"keep": "gold" in context.get("text", "")}

    # 60 obvious positives, 60 obvious negatives, 30 uncertain golds
    rows = (
        [{"id": i, "text": f"keepme gold {i}"} for i in range(60)]
        + [{"id": 100 + i, "text": f"dropme junk {i}"} for i in range(60)]
        + [{"id": 200 + i, "text": f"maybe gold {i}"} for i in range(30)]
    )
    be = _Backend()
    out = (
        SemanticFrame.from_df(spark.createDataFrame(rows), backend=be)
        .filter("keep? {{ input.text }}", {"keep": "bool"},
                cascade={"guarantee": "recall", "target": 0.8, "delta": 0.1,
                         "label_budget": 150})
        .collect()
    )
    kept = {r["id"] for r in out}
    # calibration: positives are keepme(0.9) and maybe-gold(0.5); recall at
    # t=0.5 is 1.0 -> threshold 0.5; dropme rows (p_true 0.1) proxy-dropped
    assert all(i in kept for i in range(60))          # gold keepme kept
    assert all(200 + i in kept for i in range(30))    # uncertain golds kept
    assert all(100 + i not in kept for i in range(60))  # junk dropped


# ------------------------------------------------- one cascade, three ops
def _cascade_backend(sc):
    """Items k = 0..11, asked about as a filter row or as the left row
    of a pair. Proxy: k 0-3 ("true", 0.95), k 4-7 ("false", 0.6),
    k 8-11 ("false", 0.95). Oracle: true for k 0, 1, 2 and 4. Proxy and
    oracle calls are counted in accumulators."""
    from docetl_spark import FakeBackend

    class Items(FakeBackend):
        @staticmethod
        def _k(context):
            return int((context[0] if isinstance(context, tuple) else context)["k"])

        def classify_logprob(self, prompt, labels, context):
            self.proxy_calls.add(1)
            k = self._k(context)
            return ("true", 0.95) if k < 4 else ("false", 0.6) if k < 8 else ("false", 0.95)

        def complete(self, prompt, output_schema, context):
            self.oracle_calls.add(1)
            return {next(iter(output_schema)): self._k(context) in (0, 1, 2, 4)}

    be = Items()
    be.proxy_calls, be.oracle_calls = sc.accumulator(0), sc.accumulator(0)
    return be


def _kept_by_filter(spark, be, cascade):
    from docetl_spark.operators.semantic import semantic_filter

    df = spark.createDataFrame([(k,) for k in range(12)], "k long")
    out = semantic_filter(df, "keep? {{ input.k }}", {"keep": "bool"}, be, cascade=cascade)
    return {r["k"] for r in out.collect()}


def _kept_by_resolve(spark, be, cascade):
    from docetl_spark.operators.resolve import adjudicate_pairs, candidate_pairs

    df = spark.createDataFrame([(p, p // 2) for p in range(24)], "pid long, k long")
    pairs = candidate_pairs(df, "pid", blocking_conditions=["a.k = b.k"])
    out = adjudicate_pairs(pairs, "same? {{ input1.k }} {{ input2.k }}", be, cascade=cascade)
    return {r["id_a"] // 2 for r in out.collect()}


def _kept_by_equijoin(spark, be, cascade):
    from docetl_spark.operators.equijoin import equijoin

    side = spark.createDataFrame([(k,) for k in range(12)], "k long")
    out = equijoin(side, side, be, comparison_prompt="match? {{ left.k }} {{ right.k }}",
                   left_keys=["k"], right_keys=["k"],
                   blocking_conditions=["left.k = right.k"], cascade=cascade)
    return {r["k_left"] for r in out.collect()}


@pytest.mark.parametrize("cascade,kept,oracle_calls,proxy_calls", [
    # fixed: k 0-3 and 8-11 clear 0.9 and take the proxy label (k 3 a
    # false positive); k 4-7 escalate
    ({"proxy_threshold": 0.9}, {0, 1, 2, 3, 4}, 4, 12),
    # calibration labels all 12 items (12 oracle + 12 proxy calls first).
    # recall: t = 0.4, so k 8-11 (p_true 0.05) are proxy-rejected
    ({"guarantee": "recall", "target": 0.5}, {0, 1, 2, 4}, 12 + 8, 12 + 12),
    # precision: t = 0.95, so k 0-3 are proxy-accepted, k 4-11 escalate
    ({"guarantee": "precision", "target": 0.25}, {0, 1, 2, 3, 4}, 12 + 8, 12 + 12),
    # accuracy: t = 0.6, every item is confident enough for its proxy label
    ({"guarantee": "accuracy", "target": 0.55}, {0, 1, 2, 3}, 12, 12 + 12),
], ids=["proxy_threshold", "recall", "precision", "accuracy"])
def test_one_cascade_routes_filter_resolve_and_equijoin_alike(
        spark, cascade, kept, oracle_calls, proxy_calls):
    """Filter rows, resolve pairs and equijoin pairs go through the same
    router: the same items are proxy-served or escalated, and the same
    items are kept, under the fixed threshold and each guarantee."""
    if "guarantee" in cascade:
        cascade = {**cascade, "delta": 0.5, "label_budget": 20}
    for kept_by in (_kept_by_filter, _kept_by_resolve, _kept_by_equijoin):
        be = _cascade_backend(spark.sparkContext)
        assert kept_by(spark, be, cascade) == kept, kept_by.__name__
        assert (be.oracle_calls.value, be.proxy_calls.value) == (oracle_calls, proxy_calls), kept_by.__name__


def test_equijoin_calibrates_a_guarantee(spark):
    """A proxy certain of every pair (logprob 0, probability 1.0) while
    the oracle rejects them all: calibrating for precision finds no
    threshold that holds, so every pair escalates and none matches. (A
    guarantee used to become proxy_threshold 1.0, which let the proxy
    accept every pair unchecked.)"""
    from docetl_spark import FakeBackend
    from docetl_spark.operators.equijoin import equijoin

    class Overconfident(FakeBackend):
        def classify_logprob(self, prompt, labels, context):
            return "true", 1.0

        def complete(self, prompt, output_schema, context):
            return {"is_match": False}

    side = spark.createDataFrame([(k,) for k in range(12)], "k long")
    out = equijoin(side, side, Overconfident(), comparison_prompt="{{ left.k }} {{ right.k }}",
                   left_keys=["k"], right_keys=["k"], blocking_conditions=["left.k = right.k"],
                   cascade={"guarantee": "precision", "target": 0.9})
    assert out.collect() == []
