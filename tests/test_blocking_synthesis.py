"""Blocking-rule synthesis tests (reference optimizers/join_optimizer.py
:1253-1675: propose blocking rules from a labeled sample, verify recall,
reject non-pruning rules; recast as a deterministic SQL-template catalog
judged by the same labeled sample)."""

import pytest

from docetl_spark import FakeBackend
from docetl_spark.operators.blocking import (
    BlockingSynthesis,
    synthesize_blocking,
    synthesize_blocking_pairs,
)

# People who match exactly when their (case-normalized) company matches.
PEOPLE = [
    {"pid": 1, "name": "John Doe", "company": "Acme Corp"},
    {"pid": 2, "name": "J. Doe", "company": "acme corp"},
    {"pid": 3, "name": "Jane Smith", "company": "Globex"},
    {"pid": 4, "name": "Jane A. Smith", "company": "GLOBEX"},
    {"pid": 5, "name": "Bob Brown", "company": "Initech"},
    {"pid": 6, "name": "Alice Green", "company": "Umbrella"},
    {"pid": 7, "name": "Carol White", "company": "Stark Industries"},
    {"pid": 8, "name": "Dan Black", "company": "Wayne Enterprises"},
]

CMP = "Same person? {{ input1.name }} at {{ input1.company }} vs {{ input2.name }} at {{ input2.company }}"


def _company_match_backend():
    def is_match(ctx):
        a, b = ctx
        return str(a.get("company", "")).strip().lower() == str(b.get("company", "")).strip().lower()

    return FakeBackend(rules={"is_match": is_match})


def test_synthesize_blocking_finds_normalized_company_rule(spark):
    df = spark.createDataFrame(PEOPLE)
    synth = synthesize_blocking(
        df, _company_match_backend(),
        id_col="pid", comparison_prompt=CMP,
        compare_cols=["name", "company"], target_recall=0.95,
    )
    assert isinstance(synth, BlockingSynthesis)
    assert synth.n_matches == 2  # acme pair + globex pair
    assert synth.blocking_conditions, synth.explanation
    # the matches differ in case, so exact equality fails and the
    # normalized-equality rule on company must win
    assert any("company" in c and "lower" in c for c in synth.blocking_conditions), synth
    assert synth.rule_recall is not None and synth.rule_recall >= 0.95
    assert synth.rule_selectivity is not None and synth.rule_selectivity < 0.5


def test_synthesized_rules_are_valid_spark_sql(spark):
    """Every catalog template must parse and execute as a join condition
    — the sample verdict only transfers if the cluster can run the rule."""
    from docetl_spark.operators.blocking import _RULE_CATALOG
    from pyspark.sql import functions as F

    # include an exact-duplicate company so every template keeps >= 1 pair
    df = spark.createDataFrame(PEOPLE + [{"pid": 9, "name": "Evil Twin", "company": "Acme Corp"}])
    a, b = df.alias("a"), df.alias("b")
    for name, tpl, _pred in _RULE_CATALOG:
        sql = tpl.format(a="a", b="b", ka="company", kb="company")
        n = a.join(b, F.expr(sql) & (F.expr("a.pid < b.pid"))).count()
        assert n >= 1, f"{name}: {sql} kept {n} pairs"


def test_sql_templates_mirror_python_predicates(spark):
    """The python predicate (sample judge) and the SQL template (cluster
    executor) must agree pair-by-pair, including NULL/case/whitespace."""
    from docetl_spark.operators.blocking import _RULE_CATALOG
    from pyspark.sql import functions as F

    rows = [
        {"pid": 1, "k": "Acme Corp"},
        {"pid": 2, "k": " acme corp "},
        {"pid": 3, "k": "ACME industries"},
        {"pid": 4, "k": None},
        {"pid": 5, "k": "acme"},
        {"pid": 6, "k": "Zeta  Corp"},
    ]
    df = spark.createDataFrame(rows, "pid int, k string")
    a, b = df.alias("a"), df.alias("b")
    for name, tpl, pred in _RULE_CATALOG:
        sql = tpl.format(a="a", b="b", ka="k", kb="k")
        got = {
            (r["i"], r["j"])
            for r in a.join(b, F.expr("a.pid < b.pid"))
            .select(F.expr("a.pid").alias("i"), F.expr("b.pid").alias("j"),
                    F.expr(sql).alias("keep"))
            .collect() if r["keep"]
        }
        want = {
            (x["pid"], y["pid"])
            for xi, x in enumerate(rows) for y in rows[xi + 1:]
            if pred(x["k"], y["k"])
        }
        assert got == want, f"{name}: SQL={got} python={want}"


def test_threshold_fallback_when_no_rule_prunes(spark):
    """Matches share NO key equality (typo'd companies) -> no catalog
    rule reaches the recall bar -> calibrated threshold fallback."""
    rows = [
        {"pid": 1, "name": "aa", "company": "acme"},
        {"pid": 2, "name": "bb", "company": "acxe"},   # matches 1 (typo)
        {"pid": 3, "name": "cc", "company": "globex"},
        {"pid": 4, "name": "dd", "company": "globyx"},  # matches 3 (typo)
    ]
    df = spark.createDataFrame(rows)
    be = FakeBackend(rules={"is_match": lambda ctx: {
        frozenset(["acme", "acxe"]), frozenset(["globex", "globyx"])
    }.__contains__(frozenset([ctx[0]["company"], ctx[1]["company"]]))})
    synth = synthesize_blocking(
        df, be, id_col="pid",
        comparison_prompt="{{ input1.company }} vs {{ input2.company }}",
        compare_cols=["company"], target_recall=0.95,
    )
    assert not synth.blocking_conditions
    assert synth.blocking_threshold is not None


def test_synthesize_blocking_pairs_two_tables(spark):
    left = spark.createDataFrame(
        [{"lid": i, "lcompany": p["company"]} for i, p in enumerate(PEOPLE)])
    right = spark.createDataFrame(
        [{"rid": i, "rcompany": p["company"].upper()} for i, p in enumerate(PEOPLE)])
    be = FakeBackend(rules={"is_match": lambda ctx: (
        str(ctx[0].get("lcompany", "")).strip().lower()
        == str(ctx[1].get("rcompany", "")).strip().lower())})
    synth = synthesize_blocking_pairs(
        left, right, be, comparison_prompt="{{ left.lcompany }} vs {{ right.rcompany }}",
        left_keys=["lcompany"], right_keys=["rcompany"], target_recall=0.9,
    )
    assert synth.blocking_conditions, synth.explanation
    assert any("lcompany" in c and "rcompany" in c for c in synth.blocking_conditions)
    assert synth.rule_recall >= 0.9


# ── runtime wiring: blocking="auto" ──────────────────────────────


def test_resolve_blocking_auto_end_to_end(spark):
    from docetl_spark.operators.resolve import resolve

    df = spark.createDataFrame(PEOPLE)
    out = resolve(
        df, _company_match_backend(),
        id_col="pid",
        comparison_prompt=CMP,
        output_schema={"company": "str"},
        compare_cols=["name", "company"],
        blocking="auto",
    )
    rows = {r["pid"]: r["_cluster_id"] for r in out.collect()}
    assert rows[1] == rows[2]          # acme pair clustered
    assert rows[3] == rows[4]          # globex pair clustered
    assert rows[1] != rows[3]
    assert len(rows) == len(PEOPLE)    # row count preserved


def test_resolve_blocking_auto_rejects_explicit_blocking(spark):
    from docetl_spark.operators.resolve import resolve

    df = spark.createDataFrame(PEOPLE)
    with pytest.raises(ValueError, match="blocking='auto'"):
        resolve(df, _company_match_backend(), id_col="pid",
                comparison_prompt=CMP, output_schema={"company": "str"},
                blocking="auto", blocking_keys=["company"])


def test_equijoin_blocking_auto_end_to_end(spark):
    from docetl_spark.operators.equijoin import equijoin

    left = spark.createDataFrame(
        [{"lid": 1, "lc": "Acme"}, {"lid": 2, "lc": "Globex"}, {"lid": 3, "lc": "Initech"}])
    right = spark.createDataFrame(
        [{"rid": 10, "rc": "acme"}, {"rid": 20, "rc": "GLOBEX"}, {"rid": 30, "rc": "Hooli"}])
    be = FakeBackend(rules={"is_match": lambda ctx: (
        str(ctx[0].get("lc", "")).strip().lower() == str(ctx[1].get("rc", "")).strip().lower())})
    out = equijoin(
        left, right, be,
        comparison_prompt="{{ left.lc }} vs {{ right.rc }}",
        left_keys=["lc"], right_keys=["rc"],
        blocking="auto",
    )
    got = {(r["lid"], r["rid"]) for r in out.collect()}
    assert got == {(1, 10), (2, 20)}


# ── directive wiring ─────────────────────────────────────────────


def test_synthesize_blocking_directive_applies():
    from docetl_spark.plans.directives import DIRECTIVES, PlanStats
    from docetl_spark.plans.ir import lift

    d = next(x for x in DIRECTIVES if x.name == "synthesize_blocking")
    ops = lift([
        {"type": "resolve", "name": "r", "id_col": "pid",
         "comparison_prompt": "{{ input1.name }} vs {{ input2.name }}",
         "output": {"schema": {"name": "str"}}},
    ])
    stats = PlanStats()
    assert d.applies(ops, 0, stats, None)
    new_ops = d.apply(ops, 0, stats, None)
    assert new_ops[0].config["blocking"] == "auto"
    # already-blocked ops are not applicable
    blocked = lift([{**ops[0].config, "type": "resolve", "blocking_keys": ["name"]}])
    assert not d.applies(blocked, 0, stats, None)
    # nor non-join ops
    m = lift([{"type": "map", "name": "m", "prompt": "p",
               "output": {"schema": {"s": "str"}}}])
    assert not d.applies(m, 0, stats, None)


@pytest.mark.parametrize("sampler", ["threshold", "threshold_pairs", "synthesis", "synthesis_pairs"])
def test_blocking_samplers_label_with_calls_in_flight(spark, sampler):
    """All four blocking samplers label their sample through one helper
    that overlaps up to max_concurrency comparison calls (each used to
    ask them one at a time), and they answer as with a serial backend."""
    import threading
    import time

    from docetl_spark.operators import blocking

    class Peak(FakeBackend):
        def __init__(self, conc):
            super().__init__(rules=_company_match_backend().rules)
            self.max_concurrency, self.live, self.peak = conc, 0, 0
            self.lock = threading.Lock()

        def complete(self, prompt, output_schema, context):
            with self.lock:
                self.live += 1
                self.peak = max(self.peak, self.live)
            time.sleep(0.002)
            with self.lock:
                self.live -= 1
            return super().complete(prompt, output_schema, context)

    df = spark.createDataFrame(PEOPLE)
    pair_cmp = "{{ left.name }} at {{ left.company }} vs {{ right.name }} at {{ right.company }}"
    run = {
        "threshold": lambda be: blocking.auto_blocking_threshold(
            df, be, id_col="pid", comparison_prompt=CMP, compare_cols=["name", "company"]),
        "threshold_pairs": lambda be: blocking.auto_blocking_threshold_pairs(
            df, df, be, comparison_prompt=pair_cmp, left_keys=["company"], right_keys=["company"]),
        "synthesis": lambda be: blocking.synthesize_blocking(
            df, be, id_col="pid", comparison_prompt=CMP, compare_cols=["name", "company"]),
        "synthesis_pairs": lambda be: blocking.synthesize_blocking_pairs(
            df, df, be, comparison_prompt=pair_cmp, left_keys=["company"], right_keys=["company"]),
    }[sampler]
    serial, overlapped = Peak(1), Peak(4)
    assert run(overlapped) == run(serial)
    assert (serial.peak, overlapped.peak > 1) == (1, True)
