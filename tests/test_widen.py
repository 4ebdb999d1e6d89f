"""widen_scan: Python-bound stages must not inherit a single-partition
scan's parallelism, and must not add an exchange to plans that are
already shuffle-wide."""

from pyspark.sql import functions as F

from docetl_spark.session import widen_scan


def test_widen_repartitions_narrow_scan(spark, sf_dir):
    target = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    assert docs.rdd.getNumPartitions() < target
    widened = widen_scan(docs)
    assert widened.rdd.getNumPartitions() == target
    # row-local invariance: same rows either way
    assert widened.count() == docs.count()


def test_widen_skips_shuffle_bearing_plans(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    agg = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    assert widen_scan(agg) is agg  # untouched, no extra exchange
    joined = docs.join(docs.select("doc_id"), "doc_id")
    assert widen_scan(joined) is joined


def test_widen_respects_already_wide_input(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(64)
    out = widen_scan(docs)
    # repartition shows in the plan -> skipped before the partition probe
    assert out is docs


def test_widen_launches_no_spark_jobs(spark, sf_dir):
    """The width decision comes from the plan; it never runs the plan."""
    sc = spark.sparkContext
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey", "l_partkey")
    inputs = [
        (docs, ()),
        (docs.filter(F.col("doc_id") % 2 == 0), ()),
        (docs.limit(50), ()),
        (docs.union(docs), ()),
        (docs.join(docs.select("doc_id"), "doc_id"), ()),
        (li, ("l_orderkey",)),
        (li.filter(F.col("l_partkey") > 10), ("l_orderkey",)),
    ]
    sc.setJobGroup("widen-no-jobs", "jobs launched by widen_scan")
    try:
        for df, keys in inputs:
            widen_scan(df, *keys)
        launched = sc.statusTracker().getJobIdsForGroup("widen-no-jobs")
    finally:
        sc._jsc.clearJobGroup()
    assert launched == []
