"""Tests for the benchmark's own code.

    python3 -m pytest perfbench/tests -q

The in-process tests share one local SparkSession; the command-line
tests run ``perfbench/run.py`` end to end (about a minute each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, run, workloads  # noqa: E402


def test_same_seed_same_inputs_other_seed_other_inputs():
    a = gen.relational(np.random.default_rng(5), 0.001)
    b = gen.relational(np.random.default_rng(5), 0.001)
    c = gen.relational(np.random.default_rng(6), 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_semantic_work_does_not_depend_on_seed():
    sizes = set()
    for seed in range(4):
        docs, glossary = gen.semantic_inputs(np.random.default_rng(seed), 60)
        rows = workloads.semantic_expected(docs.to_pylist(), glossary.to_pylist())
        sizes.add((len(rows), sum(r[1] for r in rows)))
    assert len(sizes) == 1


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    samples = [float(i) for i in range(50, 0, -1)]
    value, pct, n = run.tail(samples)
    assert (value, n) == (40.0, 50) and sum(s > value for s in samples) == 10
    assert pct == pytest.approx(80.0)
    assert run.tail(samples[:10]) == (None, None, 10)


def _declared(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[kind]]


def test_end_to_end_reports_every_issue_metric_and_the_declared_ones():
    passes = [{"wall": 1.0, "lat": [0.5, 0.5], "counters": {}, "rss_mb": 100.0}] * 3
    metrics = run.end_to_end(passes, 1.0, 0.0)
    assert set(_declared("end_to_end")) <= set(metrics)
    assert {"setup_s", "wall_s", "item_p50_s", "item_tail_s", "failed_frac", "model_calls",
            "model_tokens", "peak_rss_mb"} <= set(metrics)
    assert all(unit for _, unit in metrics.values())


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    run.pin_environment(work)
    from docetl_spark import get_spark

    s = get_spark("perfbench-test", extra_conf=run.session_conf(work))
    yield s, work
    s.stop()


def _bench(spark, items, seconds=5.0):
    from perfbench.probes import RssSampler, Tracer

    s, work = spark
    wl = workloads.Workload(lambda rng: {}, items, lambda spark, d: None)
    bench = run.Bench(wl, work, work, seconds, Tracer("test"))
    bench.spark = s
    bench.rss = RssSampler(os.getpid())
    return bench


def _ok_item(name):
    from scripts.check_oracle import table_hash

    rows = [(i,) for i in range(5)]
    return workloads.Item(name, lambda spark, ctx: spark.range(5),
                          (["id"], 5, table_hash(rows, ["id"])))


def test_wrong_output_or_exception_counts_as_failed_and_never_shortens_a_pass(spark):
    good = _bench(spark, [_ok_item("a"), _ok_item("b")])
    good.run_pass(traced=False)
    base = good.run_pass(traced=False)
    assert (good.attempted, good.failed) == (4, 0)

    wrong = _ok_item("wrong")
    wrong.expect = (["id"], 5, "not-the-hash")

    def boom(spark, ctx):
        raise RuntimeError("injected")

    bad = _bench(spark, [_ok_item("a"), wrong, workloads.Item("throws", boom, ("x", 0, ""))])
    out = bad.run_pass(traced=False)
    assert (bad.attempted, bad.failed) == (3, 2)
    assert out["wall"] >= 2 * bad.seconds > base["wall"]
    assert min(out["lat"][1:]) >= bad.seconds


def test_traced_pass_reads_counters_from_spark(spark):
    agg = workloads.Item("agg", lambda s, ctx: s.range(1000).selectExpr("id % 7 as k").groupBy("k").count(),
                         (["count", "k"], 7, None))
    bench = _bench(spark, [agg])
    out = bench.run_pass(traced=True)
    c = out["counters"]
    assert c["spark.jobs"] >= 1 and c["spark.tasks"] >= 1
    assert c["exchange.shuffle_records"] > 0


def _cli(workload, seed, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def test_cli_prints_declared_metrics_and_no_failures():
    report, result = _cli("relational", 7, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert list(result["metrics"]) == _declared("end_to_end")
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert report["end_to_end"]["failed_frac"]["value"] == 0.0 and report["env"]["nproc"] >= 1


def test_semantic_counts_repeat_exactly_for_a_seed():
    counts = ("model_calls", "model_tokens", "backend.calls", "backend.cache_hits",
              "resolve.compare_calls", "equijoin.compare_calls")
    runs = [_cli("semantic", 3, 1)[1] for _ in range(2)]
    assert list(runs[0]["metrics"]) == _declared("per_layer")
    first, second = ({k: r["metrics"][k]["value"] for k in counts} for r in runs)
    assert first == second and first["model_calls"] > 0
