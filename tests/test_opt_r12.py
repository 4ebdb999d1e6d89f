"""Round-12 optimization pins: frame-level cache-release handles, the
bench stdout round-comparability scheme, the narrow-scan keyed widening
of ``widen_scan``, the Arrow literal-frame type gate, and the repo-wide
persist hygiene convention (VERDICT r11 items #1/#10, ADVICE r11)."""

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402


# ---------------------------------------------------------------- handles
def test_frame_propagates_and_releases_cache_handles(spark):
    """_next must harvest _docetl_cached_input (DataFrame or list) from
    the op's result, and collect() must unpersist after materializing
    (ADVICE r11 medium: the observe wrapper used to drop the attribute,
    pinning corpus-scale relations for the session)."""
    from docetl_spark.frame import SemanticFrame

    src = spark.range(10).toDF("id")
    cached = src.select("id").persist()
    out = cached.selectExpr("id * 2 AS id2")
    out._docetl_cached_input = cached

    fr = SemanticFrame.from_df(spark.range(5).toDF("x"))
    fr2 = fr._next(out, "probe_op")
    assert len(fr2._caches) == 1
    cached.count()  # materialize the cache
    assert cached.storageLevel.useMemory or cached.storageLevel.useDisk
    fr2.collect()
    assert not (cached.storageLevel.useMemory or cached.storageLevel.useDisk)


def test_frame_harvests_list_handles(spark):
    from docetl_spark.frame import SemanticFrame

    a = spark.range(3).persist()
    b = spark.range(4).persist()
    out = spark.range(2).toDF("id")
    out._docetl_cached_input = [a, b]
    fr = SemanticFrame.from_df(spark.range(1))._next(out, "probe_op")
    assert len(fr._caches) == 2
    assert fr.release_caches() == 2


def test_retrieve_context_join_attaches_handles(spark):
    from docetl_spark.backend import FakeBackend
    from docetl_spark.retrievers import retrieve_context_join

    df = spark.createDataFrame([(1, "alpha"), (2, "beta")], "id long, lang string")
    corpus = df.select(F.col("lang").alias("t")).distinct()
    out = retrieve_context_join(
        df, corpus, FakeBackend(), text_keys=["t"], query_keys=["lang"], k=1,
    )
    handles = out._docetl_cached_input
    assert isinstance(handles, list) and len(handles) >= 1
    out.count()
    for h in handles:
        h.unpersist()


# ---------------------------------------------------------------- bench stdout
def test_bench_stdout_map_includes_prev_top25_and_respects_budget():
    import json

    import bench

    cur = {f"query_{i:03d}": float(300 - i) for i in range(240)}
    # previous round's hot spots are now fast — they must STILL appear
    prev = dict(cur)
    for i in range(25):
        prev[f"old_hot_{i}"] = 1000.0 + i
        cur[f"old_hot_{i}"] = 0.01
    m = bench._stdout_query_map(cur, prev)
    for i in range(25):
        assert f"old_hot_{i}" in m, "previous top-25 must be force-included"
    top25_now = sorted(cur, key=lambda k: -cur[k])[:25]
    assert all(k in m for k in top25_now), "current top-25 must be included"
    line = json.dumps({"metric": "x", "queries": m}, separators=(",", ":"))
    assert len(line) <= bench.STDOUT_LINE_BUDGET


def test_bench_stdout_map_no_prev():
    import bench

    cur = {f"q{i}": float(i) for i in range(50)}
    m = bench._stdout_query_map(cur, None)
    assert len(m) == 50  # all fit comfortably


# ---------------------------------------------------------------- widening
def test_widen_scan_for_agg_widens_narrow_scan(spark, sf_dir):
    from docetl_spark.session import widen_scan

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey")
    target = spark.sparkContext.defaultParallelism
    assert li.rdd.getNumPartitions() < target
    w = widen_scan(li, "l_orderkey")
    assert w.rdd.getNumPartitions() == target
    assert "RepartitionByExpression" in w._jdf.queryExecution().optimizedPlan().toString()
    # grouping on the same key must not add a second exchange
    agg = w.groupBy("l_orderkey").count()
    phys = agg._jdf.queryExecution().executedPlan().toString()
    assert phys.count("Exchange") <= 1


def test_widen_scan_for_agg_noop_on_wide_plans(spark, sf_dir):
    from docetl_spark.session import widen_scan

    base = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey").groupBy("l_orderkey").count()
    assert widen_scan(base, "l_orderkey") is base
    joined = base.join(base.select("l_orderkey"), "l_orderkey")
    assert widen_scan(joined, "l_orderkey") is joined


# ---------------------------------------------------------------- arrow gate
def test_arrow_literal_ok_gates_temporal_and_nested():
    from pyspark.sql import types as T

    from docetl_spark.session import arrow_literal_ok

    flat = T.StructType([
        T.StructField("a", T.LongType()), T.StructField("b", T.StringType()),
        T.StructField("c", T.DecimalType(38, 0)),
    ])
    assert arrow_literal_ok(flat)
    for bad in (T.TimestampType(), T.DateType(),
                T.ArrayType(T.LongType()),
                T.StructType([T.StructField("x", T.LongType())])):
        s = T.StructType([T.StructField("a", T.LongType()),
                          T.StructField("b", bad)])
        assert not arrow_literal_ok(s), bad


# ---------------------------------------------------------------- hygiene
def test_every_functions_cache_carries_release_convention():
    """Every .cache()/.persist() in docetl_spark/functions must either
    attach a _docetl_cached_input release handle in the same function or
    unpersist inline (VERDICT r11 #10). New caches must opt into the
    convention or document an exemption HERE."""
    exempt: set[str] = set()  # "<file>:<function>" entries, with a reason
    root = Path(__file__).resolve().parents[1] / "docetl_spark" / "functions"
    offenders = []
    for p in sorted(root.glob("*.py")):
        parts = re.split(r"(?m)^def ", p.read_text())
        for part in parts[1:]:
            name = part.split("(", 1)[0]
            if not re.search(r"\.(?:cache|persist)\(", part):
                continue
            key = f"{p.name}:{name}"
            if key in exempt:
                continue
            if "_docetl_cached_input" in part or ".unpersist()" in part:
                continue
            offenders.append(key)
    assert offenders == [], (
        f"caches without a release handle or inline unpersist: {offenders}")


# ------------------------------------------------- grouped range rank
def test_trimmed_mean_range_impl_matches_window(spark):
    """rank_impl='range' (the grouped range-partition rank that keeps a
    hub/low-cardinality group's sort off one task, r12 change #17) must
    produce the identical result as the window impl — including NULL
    group keys, ties straddling the trim boundary, and groups smaller
    than the trim."""
    from docetl_spark.functions.mlstats import trimmed_mean_by

    rows = []
    for i in range(997):
        g = [None, "a", "b", "c"][i % 4] if i % 11 else None
        v = float((i * 37) % 100) / 4.0  # heavy ties
        rows.append((g, v))
    rows.append(("tiny", 1.0))  # single-row group
    df = spark.createDataFrame(rows, "g string, v double")

    def canon(frame):
        return sorted((tuple(r) for r in frame.collect()),
                      key=lambda t: (t[0] is None, t))

    w = canon(trimmed_mean_by(df, "v", by=["g"], trim_bp=500,
                              rank_impl="window"))
    r = canon(trimmed_mean_by(df, "v", by=["g"], trim_bp=500,
                              rank_impl="range"))
    assert w == r
    assert len(w) == 5  # NULL, a, b, c, tiny


def test_grouped_row_number_ranks_are_dense_per_group(spark):
    """Every group gets ranks 1..n with the correct total, regardless of
    how the range partitioner splits the group across partitions."""
    from docetl_spark.functions.stats import _grouped_row_number

    df = spark.createDataFrame(
        [("g%d" % (i % 3), float(i % 7)) for i in range(500)], "g string, v double")
    ranked, handle = _grouped_row_number(df, ["g"], "v", "_r", "_n")
    rows = ranked.collect()
    handle.unpersist()
    by_g = {}
    for r in rows:
        by_g.setdefault(r["g"], []).append((r["_r"], r["_n"]))
    for g, pairs in by_g.items():
        ranks = sorted(p[0] for p in pairs)
        n = pairs[0][1]
        assert ranks == list(range(1, len(pairs) + 1)), g
        assert all(p[1] == len(pairs) for p in pairs), g
        assert n == len(pairs)
