"""CLI surface (__main__.py): run / build / clear-cache / version —
reference cli.py parity."""

import json
import os

import yaml

from docetl_spark.__main__ import main

PIPE = {
    "datasets": {"d": {"type": "file", "path": "/root/testdata/sf0.001/documents.parquet"}},
    "operations": [
        {"name": "enrich", "type": "code_map",
         "code": "def transform(doc):\n    return {'n_words': len((doc.get('text') or '').split())}\n",
         "output": {"schema": {"n_words": "int"}}},
    ],
    "pipeline": {"steps": [{"name": "s1", "input": "d", "operations": ["enrich"]}],
                 "output": {"path": ""}},
}


def test_cli_run_writes_output(spark, tmp_path):
    cfg = dict(PIPE)
    p = tmp_path / "pipe.yaml"
    out = str(tmp_path / "out.parquet")
    cfg["pipeline"] = {"steps": PIPE["pipeline"]["steps"], "output": {"path": out}}
    p.write_text(yaml.safe_dump(cfg))
    assert main(["run", str(p), "--fake-backend"]) == 0
    back = spark.read.parquet(out)
    assert back.count() == 500 and "n_words" in back.columns


def test_cli_run_reports_the_observed_row_count(spark, tmp_path, capsys, monkeypatch):
    from pyspark.sql.classic.dataframe import DataFrame

    def no_count(self):
        raise AssertionError("a count job ran after the write")

    p = tmp_path / "pipe.yaml"
    p.write_text(yaml.safe_dump(PIPE))
    out = str(tmp_path / "out.parquet")
    monkeypatch.setattr(DataFrame, "count", no_count)
    assert main(["run", str(p), "--fake-backend", "--output", out]) == 0
    monkeypatch.undo()
    assert f"wrote 500 rows to {out}" in capsys.readouterr().out
    assert spark.read.parquet(out).count() == 500


def test_cli_run_progress_lines(tmp_path, capsys):
    # console-lite progress (r9 VERDICT ask #9): one line per executed
    # op with rows-out and wall seconds
    cfg = dict(PIPE)
    p = tmp_path / "pipe.yaml"
    cfg["pipeline"] = {"steps": PIPE["pipeline"]["steps"], "output": {"path": ""}}
    p.write_text(yaml.safe_dump(cfg))
    assert main(["run", str(p), "--fake-backend", "--progress", "--limit", "1"]) == 0
    out = capsys.readouterr().out
    assert "[s1] code_map" in out and "500 rows" in out and "s\n" in out


def test_run_pipeline_progress_callable(spark):
    from docetl_spark.plans import run_pipeline

    lines: list[str] = []
    run_pipeline(spark, PIPE, progress=lines.append)
    assert len(lines) == 1
    assert "code_map" in lines[0] and "500 rows" in lines[0]


def test_cli_build_writes_optimized_yaml(tmp_path, capsys):
    cfg = {**PIPE, "operations": [
        {"name": "m", "type": "map", "prompt": "summarize {{ input.text }}",
         "output": {"schema": {"summary": "str"}}}],
        "optimize": {"stats": {"rows": 500, "avg_doc_tokens": 5000}}}
    cfg["pipeline"] = {"steps": [{"name": "s1", "input": "d", "operations": ["m"]}]}
    p = tmp_path / "pipe.yaml"
    p.write_text(yaml.safe_dump(cfg))
    assert main(["build", str(p)]) == 0
    optimized = yaml.safe_load((tmp_path / "pipe_optimized.yaml").read_text())
    assert len(optimized["operations"]) >= 1
    # steps rewired to the optimized op list
    names = [o.get("name", o["type"]) for o in optimized["operations"]]
    assert optimized["pipeline"]["steps"][0]["operations"] == names
    assert "explored" in capsys.readouterr().out


def test_cli_clear_cache_and_version(tmp_path, capsys):
    d = tmp_path / "cache" / "ab"
    d.mkdir(parents=True)
    (d / "x.json").write_text(json.dumps({"r": 1}))
    assert main(["clear-cache", "--cache-dir", str(tmp_path / "cache")]) == 0
    assert "cleared 1" in capsys.readouterr().out
    assert not os.path.exists(d / "x.json")
    assert main(["version"]) == 0
    assert "docetl_spark" in capsys.readouterr().out


def test_cli_run_writes_real_csv(spark, tmp_path):
    cfg = dict(PIPE)
    out = str(tmp_path / "out.csv")
    cfg["pipeline"] = {"steps": PIPE["pipeline"]["steps"], "output": {"path": out}}
    p = tmp_path / "pipe.yaml"
    import yaml as _y
    p.write_text(_y.safe_dump(cfg))
    assert main(["run", str(p), "--fake-backend"]) == 0
    back = spark.read.option("header", "true").csv(out)
    assert back.count() == 500 and "n_words" in back.columns  # CSV, not JSON
