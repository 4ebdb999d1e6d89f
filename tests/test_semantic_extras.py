"""Semantic-layer quality loops: gleaning, validation retries, cascades,
fold/merge reduce strategies, lineage, observability."""

import pytest

from docetl_spark import FakeBackend, SemanticFrame
from docetl_spark.backend import ModelBackend


def test_map_validation_retries(docs):
    # rule returns a bad value unless the prompt carries a retry marker
    be = FakeBackend(
        rules={"n": lambda row: 99}  # always "invalid" per the validate expr
    )
    out = (
        SemanticFrame.from_df(docs.limit(2), backend=be)
        .map(
            "count {{ input.text }}",
            {"n": "int"},
            validate=["output['n'] < 10"],
            num_retries_on_validate_failure=2,
        )
        .collect()
    )
    # retries exhausted -> last attempt kept (documented behavior)
    assert all(r["n"] == 99 for r in out)


def test_map_gleaning_improves_output(spark):
    df = spark.createDataFrame([{"id": 1, "text": "hello"}])

    def summary_rule(ctx):
        # plain dict context = first-pass row; feedback pass sees the
        # prompt carry the feedback marker via the closure below
        return "draft"

    class GleanBackend(FakeBackend):
        def complete(self, prompt, output_schema, context):
            if "needs_improvement" in output_schema:
                # judge: demand improvement iff output is still the draft
                is_draft = isinstance(context, dict) and context.get("output", {}).get("s") == "draft"
                return {"needs_improvement": is_draft, "feedback": "expand"}
            if "[feedback round" in prompt:
                return {"s": "improved"}
            return {"s": "draft"}

    out = (
        SemanticFrame.from_df(df, backend=GleanBackend())
        .map(
            "summarize {{ input.text }}",
            {"s": "str"},
            gleaning={"validation_prompt": "judge {{ output.s }}", "num_rounds": 3},
        )
        .collect()
    )
    assert out[0]["s"] == "improved"


def test_map_observability_column(docs):
    be = FakeBackend(rules={"n": lambda row: 1})
    out = (
        SemanticFrame.from_df(docs.limit(1), backend=be)
        .map("PROMPT {{ input.text }}", {"n": "int"}, observability="myop")
        .collect()
    )
    assert out[0]["_observability_myop"].startswith("PROMPT ")


def test_filter_cascade_escalates_uncertain(docs):
    class CascadeBackend(FakeBackend):
        def __init__(self):
            super().__init__()
            self.oracle_calls = 0

        def classify_logprob(self, prompt, labels, context):
            # confident "true" for review rows, uncertain otherwise
            if context.get("category") == "review":
                return "true", 0.99
            return "false", 0.5

        def complete(self, prompt, output_schema, context):
            self.oracle_calls += 1
            return {"keep": context.get("category") == "news"}

    be = CascadeBackend()
    out = (
        SemanticFrame.from_df(docs, backend=be)
        .filter("keep? {{ input.text }}", {"keep": "bool"}, cascade={"proxy_threshold": 0.9})
        .collect()
    )
    kept = sorted(r["category"] for r in out)
    assert kept == ["news", "review", "review"]  # proxy keeps reviews, oracle keeps news


def test_reduce_fold_sequential(docs):
    # the accumulator rides the fold prompt ({{ output.total }}); a backend
    # that parses it back proves true sequential accumulation: 5 items in
    # batches of 2 -> initial(2) + fold(+2) + fold(+1) = 5
    class FoldBackend(FakeBackend):
        def complete(self, prompt, output_schema, context):
            if prompt.startswith("fold"):
                prev = int(prompt.split()[2])
                return {"total": prev + len(context)}
            return {"total": len(context)}

    out = (
        SemanticFrame.from_df(docs, backend=FoldBackend())
        .reduce(
            "_all",
            "count {{ inputs | length }}",
            {"total": "int"},
            fold_prompt="fold {{ inputs | length }} {{ output.total }}",
            fold_batch_size=2,
            sort_within_group=["id"],
        )
        .collect()
    )
    assert len(out) == 1
    assert out[0]["total"] == 5


def test_reduce_merge_parallel(docs):
    # stripes fold independently (batch=1 accumulation), merge sums the
    # partial outputs from the merge prompt: 2 stripes of 3+2 items -> 5
    class MergeBackend(FakeBackend):
        def complete(self, prompt, output_schema, context):
            if prompt.startswith("fold"):
                prev = int(prompt.split()[2])
                return {"total": prev + len(context)}
            if prompt.startswith("merge"):
                partials = [int(x) for x in prompt.split()[1:]]
                return {"total": sum(partials)}
            return {"total": len(context)}

    out = (
        SemanticFrame.from_df(docs, backend=MergeBackend())
        .reduce(
            "_all",
            "count {{ inputs | length }}",
            {"total": "int"},
            fold_prompt="fold {{ inputs | length }} {{ output.total }}",
            fold_batch_size=1,
            merge_prompt="merge {{ outputs | map(attribute='total') | join(' ') }}",
            num_parallel_folds=2,
            sort_within_group=["id"],
        )
        .collect()
    )
    assert len(out) == 1
    assert out[0]["total"] == 5


def test_reduce_lineage_and_sampling(docs):
    be = FakeBackend(rules={"n": lambda items: len(items)})
    out = (
        SemanticFrame.from_df(docs, backend=be)
        .reduce(
            "category",
            "count {{ inputs | length }}",
            {"n": "int"},
            name="agg",
            sort_within_group=["id"],
            lineage_keys=["id"],
            value_sampling={"method": "first", "size": 1},
        )
        .collect()
    )
    by_cat = {r["category"]: r for r in out}
    # value sampling: prompt saw 1 item -> n == 1; lineage has ALL items
    assert by_cat["review"]["n"] == 1
    assert [d["id"] for d in by_cat["review"]["agg_lineage"]] == [0, 3]
    assert by_cat["review"]["_counts_prereduce_agg"] == 2


def test_map_drop_keys_only_fast_path(docs):
    out = SemanticFrame.from_df(docs, backend=FakeBackend()).map("x", {}, drop_keys=["to_be_dropped"])
    assert "to_be_dropped" not in out.df.columns
    assert out.count() == 5


def test_filter_limit_on_outputs(spark, backend):
    rows = [{"id": i, "text": f"keep 'x' x doc{i}"} for i in range(10)]
    df = spark.createDataFrame(rows)
    from docetl_spark.operators.semantic import semantic_filter

    out = semantic_filter(
        df, "contains 'x'? {{ input.text }}", {"keep": "bool"}, backend, limit=3
    ).collect()
    assert len(out) == 3  # early termination on surviving rows


def test_reduce_limit_keeps_smallest_groups(spark, backend):
    # group sizes: a=1, b=2, c=3 -> limit=2 keeps a and b only
    rows = [{"g": "a", "v": 1}] + [{"g": "b", "v": i} for i in range(2)] + [
        {"g": "c", "v": i} for i in range(3)]
    df = spark.createDataFrame(rows)
    from docetl_spark.operators.semantic import semantic_reduce

    out = semantic_reduce(
        df, "g", "count {{ inputs | length }}", {"n": "int"}, backend,
        sort_within_group=["v"], limit=2,
    ).collect()
    assert sorted(r["g"] for r in out) == ["a", "b"]
    by_g = {r["g"]: r["_counts_prereduce_reduce"] for r in out}
    assert by_g == {"a": 1, "b": 2}


def test_blocking_stats_logged(spark, backend, caplog):
    import logging

    rows = [{"pid": i, "name": n, "grp": n[0]} for i, n in
            enumerate(["ann", "abe", "bob", "bea"], 1)]
    df = spark.createDataFrame(rows)
    from docetl_spark.operators import resolve as resolve_op

    with caplog.at_level(logging.INFO, logger="docetl_spark.operators.resolve"):
        resolve_op.resolve(
            df, backend, id_col="pid",
            comparison_prompt="same? {{ input1.name }} {{ input2.name }}",
            output_schema={"name": "str"},
            blocking_conditions=["a.grp = b.grp"],
            log_blocking_stats=True,
        ).collect()
    msgs = [r.message for r in caplog.records if "blocking" in r.message]
    assert msgs and "comparisons saved" in msgs[0]


def test_reduce_list_keys_normalize_to_sorted(spark, backend):
    """list-valued reduce keys group as sorted tuples (reduce.py:274-299):
    [b, a] and [a, b] are one group, emitted in sorted form."""
    rows = [
        {"tags": ["b", "a"], "v": 1},
        {"tags": ["a", "b"], "v": 2},
        {"tags": ["c"], "v": 3},
    ]
    df = spark.createDataFrame(rows)
    from docetl_spark.operators.semantic import semantic_reduce

    out = semantic_reduce(
        df, "tags", "n {{ inputs | length }}", {"n": "int"}, backend,
        sort_within_group=["v"],
    ).collect()
    by_key = {tuple(r["tags"]): r["_counts_prereduce_reduce"] for r in out}
    assert by_key == {("a", "b"): 2, ("c",): 1}


def test_distribute_folds_matches_single_task_reduce(spark):
    """Salted two-stage fold/merge must reproduce the single-task plan
    for an associative rule, while bounding per-task group size."""
    import pytest
    from docetl_spark import FakeBackend, SemanticFrame

    class SumBackend(FakeBackend):
        def complete(self, prompt, output_schema, context):
            if prompt.startswith("fold"):
                return {"total": int(prompt.split()[1]) + sum(r["v"] for r in context)}
            if prompt.startswith("merge"):
                return {"total": sum(int(o["total"]) for o in context)}
            return {"total": sum(r["v"] for r in context)}

    rows = [{"g": "a" if i % 10 else "b", "id": i, "v": i % 7} for i in range(500)]
    df = spark.createDataFrame(rows)
    kw = dict(
        prompt="sum {{ inputs | length }}",
        output_schema={"total": "int"},
        sort_within_group=["id"],
        fold_prompt="fold {{ output.total }} over batch",
        fold_batch_size=50,
        merge_prompt="merge partials",
        num_parallel_folds=4,
    )
    base = {
        (r["g"], r["total"], r["_counts_prereduce_reduce"])
        for r in SemanticFrame.from_df(df, backend=SumBackend()).reduce("g", **kw).collect()
    }
    salted = {
        (r["g"], r["total"], r["_counts_prereduce_reduce"])
        for r in SemanticFrame.from_df(df, backend=SumBackend())
        .reduce("g", distribute_folds=True, **kw)
        .collect()
    }
    assert salted == base

    with pytest.raises(ValueError, match="fold_prompt"):
        SemanticFrame.from_df(df, backend=SumBackend()).reduce(
            "g", prompt="x", output_schema={"total": "int"}, distribute_folds=True
        )


def test_map_skip_on_error_and_error_col(spark):
    """Poison-row policies (reference skip_on_error, map.py:595-611, plus
    the quarantine error_col variant): failed rows drop or annotate,
    never fail the job; default still raises."""
    import pytest
    from pyspark.errors.exceptions.captured import PythonException

    from docetl_spark import FakeBackend
    from docetl_spark.operators.semantic import semantic_map

    def flaky(ctx):
        if ctx["doc_id"] % 3 == 0:
            raise RuntimeError(f"poison {ctx['doc_id']}")
        return "ok"

    be = FakeBackend(rules={"tag": flaky})
    df = spark.range(12).withColumnRenamed("id", "doc_id")

    # skip: poison rows dropped
    out = semantic_map(df, "p: {{ input.doc_id }}", {"tag": "str"}, be, skip_on_error=True)
    rows = {r["doc_id"]: r["tag"] for r in out.collect()}
    assert set(rows) == {i for i in range(12) if i % 3 != 0}
    assert all(v == "ok" for v in rows.values())

    # quarantine: rows kept, outputs null, message recorded
    out2 = semantic_map(df, "p: {{ input.doc_id }}", {"tag": "str"}, be, error_col="_map_error")
    rows2 = {r["doc_id"]: r for r in out2.collect()}
    assert len(rows2) == 12
    assert rows2[3]["tag"] is None and "poison 3" in rows2[3]["_map_error"]
    assert rows2[1]["tag"] == "ok" and rows2[1]["_map_error"] == ""

    # default: propagate (job fails)
    with pytest.raises(PythonException, match="poison"):
        semantic_map(df, "p: {{ input.doc_id }}", {"tag": "str"}, be).collect()

    # mutually exclusive
    with pytest.raises(ValueError, match="mutually exclusive"):
        semantic_map(df, "p", {"tag": "str"}, be, skip_on_error=True, error_col="_e")

    # batch path: failure unit is the chunk (default complete_batch loops
    # complete per item, so the rule sees one row's context)
    def flaky_row(ctx):
        if ctx["doc_id"] == 4:
            raise RuntimeError("poison batch")
        return "ok"

    be2 = FakeBackend(rules={"tag": flaky_row})
    out3 = semantic_map(
        df.repartition(1), "p", {"tag": "str"}, be2,
        batch_prompt="batch: {{ inputs | length }}", max_batch_size=4, skip_on_error=True,
    )
    n = out3.count()
    assert n == 8  # one 4-row chunk dropped


def test_reduce_persist_intermediates(spark):
    """persist_intermediates (reference reduce.py:444-450): fold-state
    audit trail attached per group as _{name}_intermediates."""
    import json

    import pytest

    from docetl_spark import FakeBackend
    from docetl_spark.operators.semantic import semantic_reduce

    be = FakeBackend(rules={"total": lambda ctx: 1})
    df = spark.createDataFrame([(i, "g") for i in range(6)], ["v", "grp"])
    out = semantic_reduce(
        df, "grp", "sum {{ inputs | length }}", {"total": "int"}, be,
        name="r", fold_prompt="fold {{ inputs | length }} into {{ output.total }}",
        fold_batch_size=2, sort_within_group=["v"], persist_intermediates=True,
    )
    row = out.collect()[0]
    states = [json.loads(s) for s in row["_r_intermediates"]]
    assert len(states) == 3  # 6 items / fold batch 2
    assert all("total" in st for st in states)
    assert row["total"] == 1

    with pytest.raises(ValueError, match="persist_intermediates"):
        semantic_reduce(
            df, "grp", "p", {"total": "int"}, be, name="r",
            fold_prompt="f", merge_prompt="m", distribute_folds=True,
            persist_intermediates=True,
        )


def test_map_pdf_url_key_attachment_plumbing(spark, tmp_path):
    """pdf_url_key (reference map.py:415-437): per-row executor-side
    fetch -> base64 data url -> backend attachment block. Verified with
    a backend whose rule decodes the attachment back."""
    import base64

    import pytest

    from docetl_spark import FakeBackend
    from docetl_spark.operators.semantic import semantic_map

    pdf = tmp_path / "doc.pdf"
    pdf.write_bytes(b"%PDF-1.4 fake body")

    class AttachmentEcho(FakeBackend):
        def complete_with_attachments(self, prompt, output_schema, context, attachments):
            assert attachments and attachments[0]["type"] == "pdf"
            url = attachments[0]["data_url"]
            assert url.startswith("data:application/pdf;base64,")
            head = base64.b64decode(url.split(",", 1)[1])[:8].decode()
            return {k: f"saw:{head}" for k in output_schema}

    df = spark.createDataFrame([(1, str(pdf))], ["rid", "pdf_path"])
    out = semantic_map(
        df, "summarize {{ input.rid }}", {"summary": "str"}, AttachmentEcho(),
        pdf_url_key="pdf_path",
    ).collect()
    assert out[0]["summary"] == "saw:%PDF-1.4"

    # data: URL passes through untouched; missing key raises per row
    df2 = spark.createDataFrame(
        [(2, "data:application/pdf;base64," + base64.b64encode(b"%PDF-1.5 x").decode())],
        ["rid", "pdf_path"],
    )
    out2 = semantic_map(
        df2, "p {{ input.rid }}", {"summary": "str"}, AttachmentEcho(), pdf_url_key="pdf_path"
    ).collect()
    assert out2[0]["summary"] == "saw:%PDF-1.5"

    # default text-only backend ignores the attachment but still answers
    out3 = semantic_map(
        df, "p {{ input.rid }}", {"summary": "str"}, FakeBackend(), pdf_url_key="pdf_path"
    ).collect()
    assert out3[0]["summary"]

    bad = semantic_map(
        df, "p {{ input.rid }}", {"summary": "str"}, AttachmentEcho(),
        pdf_url_key="nope", error_col="_err",
    ).collect()
    assert "not found" in bad[0]["_err"]


def test_reduce_associative_false_forces_sequential_fold(spark):
    """associative=False (reference reduce.py:62,356-357) must disable
    the parallel fold+merge plan: a non-associative combine is only
    correct as one ordered chain."""
    from docetl_spark import FakeBackend
    from docetl_spark.operators.semantic import semantic_reduce

    # accumulator = concatenation of item ids IN ORDER — order-sensitive,
    # so the stripe-parallel plan would interleave (0,4,8..),(1,5,9..)
    def chain(ctx):
        if isinstance(ctx, dict):  # merge call sees partial outputs dict? no —
            return ""
        ids = [str(it.get("v", it.get("chain", ""))) for it in ctx]
        return "-".join(x for x in ids if x)

    be = FakeBackend(rules={"chain": lambda ctx: "-".join(
        str(it["v"]) if "v" in it else str(it.get("chain", "")) for it in ctx
    )})
    df = spark.createDataFrame([(i, "g") for i in range(8)], ["v", "grp"])
    out = semantic_reduce(
        df, "grp", "c {{ inputs | length }}", {"chain": "str"}, be,
        name="r", fold_prompt="f {{ output.chain }}", merge_prompt="m {{ outputs }}",
        fold_batch_size=3, sort_within_group=["v"], associative=False,
    ).collect()[0]
    # sequential fold over sorted items: first call sees [0,1,2], later
    # folds see the batch only (rule concatenates batch ids) — the key
    # assertion is ORDER: ids appear in ascending order, no striping
    digits = [c for c in out["chain"] if c.isdigit()]
    assert digits == sorted(digits), out["chain"]


def test_reduce_merge_batch_size_hierarchical(spark):
    """merge_batch_size chunks the partial merge into a tree; the final
    result still reflects every stripe."""
    from docetl_spark import FakeBackend
    from docetl_spark.operators.semantic import semantic_reduce

    calls = {"merge": 0}

    def counting(ctx):
        return sum(
            int(it.get("total", 1)) if isinstance(it, dict) else 1 for it in ctx
        )

    be = FakeBackend(rules={"total": counting})
    df = spark.createDataFrame([(i, "g") for i in range(16)], ["v", "grp"])
    out = semantic_reduce(
        df, "grp", "c", {"total": "int"}, be, name="r",
        fold_prompt="f {{ output.total }}", merge_prompt="m {{ outputs | length }}",
        fold_batch_size=2, num_parallel_folds=8, merge_batch_size=3,
        sort_within_group=["v"],
    ).collect()[0]
    assert out["total"] >= 1  # merged through the tree without error


def test_reduce_merge_batch_size_must_be_at_least_two(spark):
    """merge_batch_size=1 (or negative) would never shrink the partial
    list — the merge loop would spin forever making model calls."""
    import pytest

    from docetl_spark import FakeBackend
    from docetl_spark.operators.semantic import semantic_reduce

    df = spark.createDataFrame([(1, "g")], ["v", "grp"])
    for bad in (1, 0, -2):
        with pytest.raises(ValueError, match="merge_batch_size"):
            semantic_reduce(
                df, "grp", "c", {"total": "int"}, FakeBackend(), name="r",
                fold_prompt="f", merge_prompt="m", merge_batch_size=bad,
            )


def test_map_error_quarantine_preserves_big_ints(spark):
    """error_col quarantine keeps the failed row with NULL outputs — the
    resulting None+int column must not flip to float64 (which silently
    corrupts int64 values above 2^53)."""
    from docetl_spark import FakeBackend, SemanticFrame

    big = 1_700_000_000_123_456_791

    def snowflake(row):
        if row["id"] == 1:
            raise RuntimeError("boom")
        return big + row["id"]

    be = FakeBackend(rules={"snowflake_id": snowflake})
    df = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], ["id", "text"])
    out = (
        SemanticFrame(df, backend=be)
        .map("ids for {{ input.text }}", {"snowflake_id": "int"}, error_col="_err")
        .df.collect()
    )
    got = {r["id"]: r for r in out}
    assert got[0]["snowflake_id"] == big  # exact, not corrupted by float64
    assert got[2]["snowflake_id"] == big + 2
    assert got[1]["snowflake_id"] is None and "boom" in got[1]["_err"]


def test_map_error_quarantine_catches_noninteger_output(spark):
    """A model answering 3.7 (or '42', or True) for an int field must
    quarantine THAT ROW under error_col — not kill the stage at Arrow
    batch build — and numeric strings/bools must never silently coerce."""
    from docetl_spark import FakeBackend, SemanticFrame

    vals = {0: 7, 1: 3.7, 2: "42", 3: True, 4: 2**70}

    be = FakeBackend(rules={"n": lambda row: vals[row["id"]]})
    df = spark.createDataFrame([(i, "t") for i in range(5)], ["id", "text"])
    out = {
        r["id"]: r
        for r in SemanticFrame(df, backend=be)
        .map("x {{ input.text }}", {"n": "int"}, error_col="_err")
        .df.collect()
    }
    assert out[0]["n"] == 7 and out[0]["_err"] == ""
    for bad in (1, 2, 3, 4):
        assert out[bad]["n"] is None and "declared int" in out[bad]["_err"], out[bad]


def _judge_recorder(path):
    """A backend that appends every judge prompt to ``path`` (the calls
    run in Spark's Python workers) and never asks for improvement."""

    class JudgeRecorder(FakeBackend):
        def complete(self, prompt, output_schema, context):
            if "needs_improvement" in output_schema:
                with open(str(path), "a") as f:
                    f.write(prompt + "\0")
                return {"needs_improvement": False, "feedback": ""}
            return {k: "OUT-" + str(len(str(context))) for k in output_schema}

    return JudgeRecorder()


def _judge_prompts(path):
    return [p for p in path.read_text().split("\0") if p]


@pytest.mark.parametrize("op", ["map", "reduce"])
def test_gleaning_judge_sees_an_untemplated_output(spark, tmp_path, op):
    """A validation prompt that does not template ``output`` still shows
    the judge the output: it is appended, JSON-encoded."""
    import json

    log = tmp_path / "judge.txt"
    sf = SemanticFrame.from_df(spark.createDataFrame([{"k": "a", "text": "hello"}]),
                               backend=_judge_recorder(log))
    glean = {"validation_prompt": "Is this good?", "num_rounds": 1}
    if op == "map":
        out = sf.map("summarize {{ input.text }}", {"s": "str"}, gleaning=glean).collect()
    else:
        out = sf.reduce("k", "sum up {{ inputs }}", {"s": "str"}, gleaning=glean).collect()
    (prompt,) = _judge_prompts(log)
    assert prompt.startswith("Is this good?")
    assert json.dumps({"s": out[0]["s"]}) in prompt


def test_gleaning_judge_prompt_that_templates_output_is_unchanged(spark, tmp_path):
    log = tmp_path / "judge.txt"
    sf = SemanticFrame.from_df(spark.createDataFrame([{"text": "hello"}]), backend=_judge_recorder(log))
    out = sf.map("summarize {{ input.text }}", {"s": "str"},
                 gleaning={"validation_prompt": "Is {{ output.s }} good?", "num_rounds": 1}).collect()
    assert _judge_prompts(log) == [f"Is {out[0]['s']} good?"]
