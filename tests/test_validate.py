"""Config lint (plans/validate.py): reference plan/analysis.py:103-160
PlanIssue semantics — errors abort run_pipeline before any Spark job,
warnings ride along, plugin op types are opaque-info."""

import pytest

from docetl_spark import FakeBackend, run_pipeline
from docetl_spark.plans import validate_config


def _base(ops, steps=None):
    return {
        "datasets": {"d": {"type": "memory", "data": [{"id": 1, "text": "x"}]}},
        "operations": ops,
        "pipeline": {"steps": steps or [{"name": "s1", "input": "d",
                                         "operations": [o["name"] for o in ops]}]},
    }


def test_clean_config_has_no_issues():
    cfg = _base([{"name": "m", "type": "map", "prompt": "x {{ input.text }}",
                  "output": {"schema": {"s": "str"}}}])
    assert validate_config(cfg) == []


def test_errors_structural_and_per_op():
    cfg = _base([
        {"name": "f", "type": "filter", "prompt": "p {{ input.text }}",
         "output": {"schema": {"keep": "bool", "extra": "str"}}},  # 2 keys
        {"name": "r", "type": "reduce", "prompt": "p {{ inputs }}",
         "output": {"schema": {"n": "int"}}},  # no reduce_key
        {"name": "bad", "type": "map", "output": {"schema": {"s": "wat[z]"}}},  # no prompt + bad type
    ], steps=[{"name": "s1", "input": "nope", "operations": ["f", "r", "bad", "ghost"]}])
    msgs = [str(i) for i in validate_config(cfg)]
    assert any("exactly one bool key" in m for m in msgs)
    assert any("reduce_key" in m for m in msgs)
    assert any("map needs `prompt`" in m for m in msgs)
    assert any("schema does not parse" in m for m in msgs)
    assert any("unknown step input 'nope'" in m for m in msgs)
    assert any("unknown operation 'ghost'" in m for m in msgs)


def test_empty_required_value_is_missing():
    cfg = _base([
        {"name": "m", "type": "map", "prompt": "", "output": {"schema": {"s": "str"}}},
        {"name": "r", "type": "reduce", "reduce_key": "", "prompt": "p {{ inputs }}",
         "output": {"schema": {"n": "int"}}},
        {"name": "t", "type": "time_rollup", "ts_col": "ts", "aggs": {}},
    ])
    msgs = [str(i) for i in validate_config(cfg) if i.level == "error"]
    assert any("map needs `prompt`" in m for m in msgs)
    assert any("reduce needs `reduce_key` (use '_all' for global)" in m for m in msgs)
    assert any("time_rollup needs `aggs`" in m for m in msgs)


def test_field_flow_warns_on_dropped_read():
    cfg = _base([
        {"name": "m1", "type": "map", "prompt": "x {{ input.text }}",
         "output": {"schema": {"a": "str"}}, "drop_keys": ["text"]},
        {"name": "m2", "type": "map", "prompt": "y {{ input.text }}",
         "output": {"schema": {"b": "str"}}},
    ])
    issues = validate_config(cfg)
    assert any(i.level == "warning" and "removed upstream" in i.message for i in issues)


def test_code_op_source_checked():
    cfg = _base([{"name": "c", "type": "code_map",
                  "code": "def wrong(doc):\n    return {}\n",
                  "output": {"schema": {"z": "int"}}}])
    assert any("must define transform" in i.message for i in validate_config(cfg))
    cfg2 = _base([{"name": "c", "type": "code_map", "code": "def transform(doc:\n",
                   "output": {"schema": {"z": "int"}}}])
    assert any("does not parse" in i.message for i in validate_config(cfg2))


def test_run_pipeline_aborts_on_errors_and_flag_disables(spark):
    cfg = _base([{"name": "m", "type": "map", "output": {"schema": {"s": "str"}}}])
    with pytest.raises(ValueError, match="invalid pipeline config"):
        run_pipeline(spark, cfg, backend=FakeBackend())
    # validate: false skips the lint; failure then happens wherever it may
    cfg["validate"] = False
    with pytest.raises(Exception):
        run_pipeline(spark, cfg, backend=FakeBackend())


def test_plugin_type_is_opaque_info():
    from docetl_spark.plugins import register_operator, unregister_operator

    cfg = _base([{"name": "x", "type": "mystery"}])
    assert any(i.level == "error" for i in validate_config(cfg))
    register_operator("mystery", lambda sf, c, ds: sf)
    try:
        issues = validate_config(cfg)
        assert issues and all(i.level == "info" for i in issues)
    finally:
        unregister_operator("mystery")


def test_analytics_ops_required_keys():
    from docetl_spark.plans.validate import validate_config

    cfg = {
        "datasets": {"d": {"type": "memory", "data": [{"x": 1}]}},
        "operations": [
            {"name": "g", "type": "gap_fill", "ts_col": "t"},  # missing keys/width/aggs
            {"name": "s", "type": "sessionize", "keys": ["u"], "ts_col": "t", "gap": 10},
            {"name": "a", "type": "asof_join", "right": "d", "on": ["k"],
             "right_ts": "t", "right_cols": ["v"]},  # missing left_ts
        ],
        "pipeline": {"steps": [{"name": "s1", "input": "d", "operations": ["g", "s", "a"]}]},
    }
    errs = [str(i) for i in validate_config(cfg) if i.level == "error"]
    assert any("gap_fill needs `keys`" in e for e in errs)
    assert any("gap_fill needs `bucket_width`" in e for e in errs)
    assert any("gap_fill needs `aggs`" in e for e in errs)
    assert not any("sessionize" in e for e in errs)  # complete spec passes
    assert [e for e in errs if "asof_join" in e] == ["[error] a: asof_join needs `left_ts`"]
