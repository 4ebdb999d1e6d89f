"""Source readers + parsing tools (1->N row expansion, gated imports)."""

import pytest

from docetl_spark.sources import parsers, readers


@pytest.fixture()
def text_dir(tmp_path):
    (tmp_path / "a.txt").write_text("alpha doc")
    (tmp_path / "b.txt").write_text("beta doc\nsecond line")
    return str(tmp_path)


def test_read_dir_and_txt_parser(spark, text_dir):
    df = readers.read_dir(spark, text_dir)
    assert df.count() == 2
    parsed = readers.apply_parser(df, parsers.txt_to_string, {"text": "str"})
    texts = sorted(r["text"] for r in parsed.select("text").collect())
    assert texts == ["alpha doc", "beta doc\nsecond line"]


def test_parser_one_to_many(spark, text_dir):
    df = readers.read_dir(spark, text_dir)

    def per_line(row):
        return [{"line": ln} for ln in row["text"].splitlines()]

    parsed = readers.apply_parser(df, per_line, {"line": "str"})
    assert parsed.count() == 3  # 1 + 2 lines


def test_custom_parser_from_source(spark, text_dir):
    src = "def parse(row):\n    return [{'n_chars': len(row['text'])}]"
    fn = parsers.custom_parser(src)
    df = readers.read_dir(spark, text_dir)
    out = readers.apply_parser(df, fn, {"n_chars": "int"})
    assert sorted(r["n_chars"] for r in out.collect()) == [9, 20]


def test_gated_parser_raises_clearly(spark):
    with pytest.raises(RuntimeError, match="fitz|pdf_to_string"):
        parsers.pdf_to_string({"path": "/nonexistent.pdf"})
    # whisper/azure provider paths are gated the same way (litellm/SDK
    # absent in this container) — clear errors, no silent stubs
    with pytest.raises(RuntimeError, match="litellm|whisper"):
        parsers.whisper_speech_to_text({"path": "/nonexistent.mp3"})
    with pytest.raises(RuntimeError, match="azure"):
        parsers.azure_di_to_string({"path": "/nonexistent.pdf"})


def test_whisper_parser_with_injected_transcriber(tmp_path):
    """Injected transcribe_fn exercises the small-file path end-to-end
    (the reference shape: one output row with the transcript)."""
    p = tmp_path / "clip.mp3"
    p.write_bytes(b"\x00" * 100)
    out = parsers.whisper_speech_to_text(
        {"path": str(p)}, transcribe_fn=lambda f: f"transcript:{len(f.read())}"
    )
    # chunk=0 on the single-file path too: keeps ONE row schema across a
    # dataset mixing chunked (>25MB) and small files
    assert out == [{"chunk": 0, "text": "transcript:100"}]


def test_azure_di_parser_with_injected_client(tmp_path):
    """Injected client exercises the prebuilt-read page/line assembly
    (reference parsing_tools.py:275-340) without network."""
    from types import SimpleNamespace

    p = tmp_path / "scan.pdf"
    p.write_bytes(b"%PDF-1.4")

    result = SimpleNamespace(
        content="ignored",
        pages=[
            SimpleNamespace(lines=[SimpleNamespace(content="hello"),
                                   SimpleNamespace(content="world")]),
            SimpleNamespace(lines=[SimpleNamespace(content="page two")]),
        ],
    )

    class FakeClient:
        def begin_analyze_document(self, model, f):
            assert model == "prebuilt-read" and f.read().startswith(b"%PDF")
            return SimpleNamespace(result=lambda: result)

    out = parsers.azure_di_to_string({"path": str(p)}, client=FakeClient())
    assert out == [{"text": "Page 1:\nhello\nworld\n\nPage 2:\npage two"}]


def test_json_csv_roundtrip(spark, tmp_path):
    rows = [{"id": 1, "t": "x"}, {"id": 2, "t": "y"}]
    df = readers.from_list(spark, rows)
    readers.write_output(df, str(tmp_path / "out.json"))
    back = readers.read_json(spark, str(tmp_path / "out.json"), multiline=False)
    assert back.count() == 2
    readers.write_output(df, str(tmp_path / "out.csv"))
    back_csv = readers.read_csv(spark, str(tmp_path / "out.csv"))
    assert back_csv.count() == 2


# ------------------------------------------------------ pptx (stdlib zip)

def _write_minimal_pptx(path, slides):
    """Build a minimal .pptx: zip with ppt/slides/slideN.xml DrawingML."""
    import zipfile

    A = "http://schemas.openxmlformats.org/drawingml/2006/main"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", "<Types/>")
        for i, paras in enumerate(slides, 1):
            body = "".join(
                f'<a:p xmlns:a="{A}">' + "".join(f"<a:r><a:t>{run}</a:t></a:r>" for run in para)
                + "</a:p>"
                for para in paras
            )
            z.writestr(f"ppt/slides/slide{i}.xml",
                       f'<sld xmlns:a="{A}">{body}</sld>')


def test_pptx_to_string(tmp_path):
    from docetl_spark.sources import parsers

    p = str(tmp_path / "deck.pptx")
    _write_minimal_pptx(p, [
        [["Title ", "slide"], ["subtitle"]],
        [["Second slide body"]],
    ])
    out = parsers.pptx_to_string({"path": p})
    assert out == [{"text": "Title slide\nsubtitle\n\nSecond slide body"}]
    per_slide = parsers.pptx_to_string({"path": p, "doc_per_slide": True})
    assert [r["slide"] for r in per_slide] == [1, 2]
    assert per_slide[1]["text"] == "Second slide body"


# --------------------------------------------------- html -> markdown

def test_html_to_markdown_core_constructs():
    from docetl_spark.functions.html import html_to_markdown

    html = """
    <html><head><style>body{}</style><script>x()</script></head><body>
    <h1>Title</h1>
    <p>Hello <strong>bold</strong> and <em>italic</em> text with a
       <a href="https://example.com">link</a>.</p>
    <ul><li>one</li><li>two</li></ul>
    <ol><li>first</li><li>second</li></ol>
    <pre><code>x = 1
y = 2</code></pre>
    <blockquote>quoted</blockquote>
    </body></html>
    """
    md = html_to_markdown(html)
    assert "# Title" in md
    assert "**bold**" in md and "*italic*" in md
    assert "[link](https://example.com)" in md
    assert "- one" in md and "- two" in md
    assert "1. first" in md and "2. second" in md
    assert "```" in md and "x = 1\ny = 2" in md
    assert "> quoted" in md
    assert "style" not in md and "x()" not in md  # head/script dropped


def test_web_fetch_converts_html_to_markdown(spark):
    from docetl_spark.operators import web_ops

    df = spark.createDataFrame([{"url": "http://x/a"}, {"url": "http://x/b"}])
    pages = {
        "http://x/a": "<h1>A</h1><p>alpha <b>beta</b></p>",
        "http://x/b": "<p>see <a href='http://y'>there</a></p>",
    }
    out = web_ops.web_fetch(df, url_col="url", fetch_fn=lambda u: pages[u],
                            requests_per_second=0)
    rows = {r["url"]: r["content"] for r in out.collect()}
    assert rows["http://x/a"] == "# A\n\nalpha **beta**"
    assert rows["http://x/b"] == "see [there](http://y)"
    # raw mode passes the body through untouched
    raw = web_ops.web_fetch(df, url_col="url", fetch_fn=lambda u: pages[u],
                            requests_per_second=0, convert=None)
    assert {r["content"] for r in raw.collect()} == set(pages.values())


# ------------------------------------------------------ operator plugins

def test_plugin_operator_in_pipeline(spark):
    from docetl_spark import run_pipeline
    from docetl_spark.plugins import register_operator, unregister_operator

    def double_op(sf, config, datasets):
        col = config["column"]
        return sf.with_columns(**{col: f"{col} * 2"})

    register_operator("double", double_op)
    try:
        cfg = {
            "datasets": {"d": {"type": "memory", "data": [{"x": 1}, {"x": 2}]}},
            "operations": [{"name": "dbl", "type": "double", "column": "x"}],
            "pipeline": {"steps": [{"name": "s", "input": "d", "operations": ["dbl"]}]},
        }
        out = run_pipeline(spark, cfg)
        assert sorted(r["x"] for r in out.collect()) == [2, 4]
    finally:
        unregister_operator("double")
    with pytest.raises(ValueError, match="unknown op type"):
        run_pipeline(spark, cfg)


def test_partitioned_write_prunes(spark, tmp_path):
    from docetl_spark.sources.readers import write_output

    df = spark.createDataFrame(
        [{"k": i % 3, "v": i} for i in range(30)]
    )
    out = str(tmp_path / "part_out")
    write_output(df, out, partition_by="k", max_records_per_file=5)
    import os
    dirs = sorted(d for d in os.listdir(out) if d.startswith("k="))
    assert dirs == ["k=0", "k=1", "k=2"]
    back = spark.read.parquet(out).filter("k = 1")
    # partition pruning: the filtered scan reads only the k=1 directory
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert back.count() == 10
    assert "PartitionFilters: [isnotnull(k" in plan or "k#" in plan


def test_bucketed_table_joins_without_shuffle(spark, tmp_path):
    from docetl_spark.sources.readers import write_bucketed_table

    spark.sql("DROP TABLE IF EXISTS bt_left")
    spark.sql("DROP TABLE IF EXISTS bt_right")
    left = spark.createDataFrame([{"id": i, "a": i * 2} for i in range(100)])
    right = spark.createDataFrame([{"id": i, "b": i * 3} for i in range(100)])
    write_bucketed_table(left, "bt_left", bucket_by="id", num_buckets=4,
                         sort_by="id", path=str(tmp_path / "bt_left"))
    write_bucketed_table(right, "bt_right", bucket_by="id", num_buckets=4,
                         sort_by="id", path=str(tmp_path / "bt_right"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the co-located sort-merge path is observable
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("bt_left").hint("merge").join(spark.table("bt_right"), "id")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert j.count() == 100
        # co-located buckets: the sort-merge join runs with NO shuffle
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bt_left")
        spark.sql("DROP TABLE IF EXISTS bt_right")


def test_stream_to_parquet_sink(spark, tmp_path, sf_dir):
    from docetl_spark.streaming import events as stream_ops

    ev = stream_ops.read_events_stream(spark, f"{sf_dir}/events.parquet")
    out, ckpt = str(tmp_path / "land"), str(tmp_path / "ckpt")
    q = stream_ops.stream_to_parquet(
        ev.select("event_id", "user_id", "event_type"), out,
        checkpoint=ckpt, partition_by="event_type", available_now=True,
    )
    q.awaitTermination()
    landed = spark.read.parquet(out)
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    assert landed.count() == batch.count()
    import os
    assert any(d.startswith("event_type=") for d in os.listdir(out))


def test_web_fetch_passes_non_html_through(spark):
    from docetl_spark.operators import web_ops

    df = spark.createDataFrame([{"url": "http://x/plain"}, {"url": "http://x/page"}])
    bodies = {
        "http://x/plain": "line one\nline two\nline three",
        "http://x/page": "<html><body><p>hi</p></body></html>",
    }
    out = web_ops.web_fetch(
        df, url_col="url", fetch_fn=lambda u: bodies[u], requests_per_second=0,
    )
    got = {r["url"]: r["content"] for r in out.collect()}
    assert got["http://x/plain"] == "line one\nline two\nline three"  # untouched
    assert "hi" in got["http://x/page"] and "<p>" not in got["http://x/page"]


def test_parse_serp_html_ddg_markup():
    """Pure-function SERP extraction: DDG html-endpoint classes and
    generic h2/h3-wrapped anchors, capped at max_results."""
    from docetl_spark.operators import web_ops

    html = """
    <html><body>
      <div class="result">
        <a class="result__a" href="https://a.example/1">First Result</a>
        <a class="result__snippet" href="#">Snippet one <b>bold</b> text.</a>
      </div>
      <div class="result">
        <a class="result__a" href="https://a.example/2">Second</a>
        <div class="result__snippet">Snippet two.</div>
      </div>
      <h3><a href="https://b.example/3">Heading Wrapped</a></h3>
    </body></html>"""
    res = web_ops.parse_serp_html(html, 10)
    assert [r["url"] for r in res] == ["https://a.example/1", "https://a.example/2", "https://b.example/3"]
    assert res[0]["title"] == "First Result"
    assert "Snippet one" in res[0]["description"]
    assert web_ops.parse_serp_html(html, 2) == res[:2]
    assert web_ops.parse_serp_html("") == []


def test_provider_probes_degrade_cleanly():
    """In this sandbox requests/playwright/markitdown are absent: every
    probe returns None (never raises), resolve_serp_fetcher falls
    through, and the operators keep the injectable-seam default."""
    from docetl_spark.operators import web_ops

    if web_ops._has_module("requests") or web_ops._has_module("playwright"):
        import pytest

        pytest.skip("real clients present; provider resolution is live")
    assert web_ops.make_requests_serp_fetcher() is None
    assert web_ops.make_playwright_serp_fetcher() is None
    assert web_ops.resolve_serp_fetcher("auto") is None
    assert web_ops.make_http_fetcher() is None
    import pytest

    with pytest.raises(ValueError, match="unknown web_search provider"):
        web_ops.resolve_serp_fetcher("carrier-pigeon")


def test_web_search_unknown_engine_fails_fast():
    from docetl_spark.operators import web_ops

    import pytest

    with pytest.raises(KeyError):
        web_ops.make_requests_serp_fetcher("altavista") if web_ops._has_module(
            "requests"
        ) else (_ for _ in ()).throw(KeyError("altavista"))


def test_split_partitioned_write_prunes_at_scan(spark, tmp_path):
    """assign_splits -> write_output(partition_by='split') -> a reader
    filtering one split must scan ONLY that split's directory
    (PartitionFilters at the parquet scan, not a post-scan filter)."""
    from docetl_spark.functions.training import assign_splits
    from docetl_spark.sources.readers import write_output

    df = spark.createDataFrame([(i, f"doc {i}") for i in range(500)], ["doc_id", "text"])
    out = str(tmp_path / "corpus")
    write_output(assign_splits(df, id_cols=["doc_id"]), out, partition_by="split")

    back = spark.read.parquet(out).filter("split = 'val'")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(split" in plan and "(split" in plan
    # pruned read returns exactly the val rows, and fewer than the corpus
    n_val = back.count()
    assert 0 < n_val < 100
    total = spark.read.parquet(out).count()
    assert total == 500


def test_zorder_value_matches_reference_interleave(spark):
    from docetl_spark.sources.readers import zorder_value
    from pyspark.sql import functions as F

    rows = [(x, y) for x in range(8) for y in range(8)]
    df = spark.createDataFrame(rows, ["x", "y"])
    out = {
        (r["x"], r["y"]): r["z"]
        for r in df.select("x", "y", zorder_value(["x", "y"], mins=[0, 0], maxs=[7, 7], bits=3).alias("z")).collect()
    }

    def ref(x, y):
        z = 0
        for b in range(3):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    for (x, y), z in out.items():
        assert z == ref(x, y), (x, y, z, ref(x, y))


def test_write_zordered_clusters_both_dimensions(spark, tmp_path):
    """Z-ordered layout: per-file bounding boxes are tight in BOTH
    dimensions, where a single-column sort leaves the second dimension
    unclustered — the property multi-dim data skipping depends on."""
    import random

    from pyspark.sql import functions as F

    from docetl_spark.sources.readers import write_zordered

    rng = random.Random(3)
    rows = [(rng.randint(0, 9999), rng.randint(0, 9999)) for _ in range(20000)]
    df = spark.createDataFrame(rows, ["x", "y"])

    zpath = str(tmp_path / "zorder")
    write_zordered(df, zpath, by=["x", "y"], num_files=16)
    spath = str(tmp_path / "xsort")
    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(spath)

    def avg_spread(path, col):
        per_file = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg((F.max(col) - F.min(col)).alias("spread"))
            .collect()
        )
        return sum(r["spread"] for r in per_file) / len(per_file)

    # x-sorted layout: x tight, y unclustered (~full 10k range)
    assert avg_spread(spath, "x") < 2000 and avg_spread(spath, "y") > 8000
    # z-ordered: BOTH dims clustered well below the full range
    assert avg_spread(zpath, "x") < 6000 and avg_spread(zpath, "y") < 6000


def test_dataset_stats_one_pass(spark):
    from docetl_spark.sources.readers import dataset_stats

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = dataset_stats(df, "docs")
    assert "Records loaded: 500" in out
    assert "text (string): avg" in out
    assert "Estimated tokens: ~" in out
    empty = dataset_stats(df.limit(0), "none")
    assert "Records loaded: 0" in empty

    # array columns (embeddings) and binary columns both participate
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb_stats = dataset_stats(emb, "emb")
    assert "embedding (array<float>): avg" in emb_stats
    from pyspark.sql import functions as F

    binned = df.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    bstats = dataset_stats(binned, "bin")
    assert "payload (binary):" in bstats and "bytes total" in bstats


def test_smart_sample_stratifies_and_prefers_long(spark):
    from docetl_spark.operators.sample import smart_sample

    rows = [(i, "catA" if i % 2 else "catB", "x" * (10 + i)) for i in range(40)]
    df = spark.createDataFrame(rows, ["rid", "cat", "body"])
    out = smart_sample(df, 6).collect()
    assert len(out) == 6
    # both categories survive (stratified), and within the pick the
    # longest bodies dominate
    cats = {r["cat"] for r in out}
    assert cats == {"catA", "catB"}
    assert min(len(r["body"]) for r in out) >= 10 + 28  # long tail only

    # k >= n returns input unchanged
    assert smart_sample(df, 100).count() == 40


def test_memory_dataset_with_an_all_null_column_runs(spark):
    """A memory dataset whose column is None in every row gives schema
    inference no type: the column comes out all-null (string, as Spark's
    JSON reader types such a field) instead of aborting the run."""
    from docetl_spark import FakeBackend, run_pipeline

    cfg = {
        "datasets": {"d": {"type": "memory", "data": [{"x": 1, "n": None}]}},
        "operations": [{"name": "pos", "type": "code_filter", "predicate": "x > 0"}],
        "pipeline": {"steps": [{"name": "s", "input": "d", "operations": ["pos"]}]},
    }
    out = run_pipeline(spark, cfg, backend=FakeBackend())
    assert dict(out.df.dtypes) == {"x": "bigint", "n": "string"}
    assert out.collect() == [{"x": 1, "n": None}]


def test_from_list_keeps_a_declared_schema(spark):
    from docetl_spark.types import schema_of

    schema = {"x": "int", "n": "float"}
    df = readers.from_list(spark, [{"x": 1, "n": None}], schema=schema)
    assert df.schema == schema_of(schema)
    assert [r.asDict() for r in df.collect()] == [{"x": 1, "n": None}]
