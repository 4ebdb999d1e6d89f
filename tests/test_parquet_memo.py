"""read_parquet's schema memo: a warm read of a single local file launches
no Spark job and reads the same rows as ``spark.read.parquet``; a
rewrite or a schema conf change is a fresh entry; directories and
non-``file`` URIs never touch the memo."""

import os
import shutil
import sys
from decimal import Decimal
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.utils import AnalysisException

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from docetl_spark.sources import readers  # noqa: E402
from docetl_spark.sources.readers import (  # noqa: E402
    parquet_schema, read_parquet, set_nanos_conf_if_needed,
)
from scripts.check_oracle import table_hash  # noqa: E402

NANOS = "spark.sql.legacy.parquet.nanosAsLong"
BINARY = "spark.sql.parquet.binaryAsString"


def _jobs(spark, fn):
    """Run ``fn`` in a job group; return the ids of the jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup("parquet-memo", "jobs launched by read_parquet")
    try:
        fn()
        return sc.statusTracker().getJobIdsForGroup("parquet-memo")
    finally:
        sc._jsc.clearJobGroup()


def _hash(df):
    return table_hash([tuple(r) for r in df.collect()], df.columns)


def _same_as_spark(spark, path, df):
    ref = spark.read.parquet(path)
    assert df.schema == ref.schema
    assert _hash(df) == _hash(ref)


@pytest.fixture()
def restore_confs(spark):
    saved = {k: spark.conf.get(k, None) for k in (NANOS, BINARY)}
    yield
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_warm_read_launches_no_job(spark, sf_dir):
    path = f"{sf_dir}/lineitem.parquet"
    read_parquet(spark, path)

    def warm():
        df = read_parquet(spark, path)
        df.schema
        df.select("l_orderkey", "l_extendedprice", "l_shipdate").schema

    assert _jobs(spark, warm) == []
    _same_as_spark(spark, path, read_parquet(spark, path))
    # a file: URI names the same local file
    assert _jobs(spark, lambda: read_parquet(spark, f"file://{path}").schema) == []


def test_warm_read_matches_spark_on_decimal_timestamp_and_nanos(spark, sf_dir, tmp_path, restore_confs):
    path = str(tmp_path / "typed.parquet")
    pq.write_table(pa.table({
        "price": pa.array([Decimal("1.2500"), None, Decimal("-3.0001")], pa.decimal128(18, 4)),
        "shipped": pa.array([0, 86_400_000_001, None], pa.timestamp("us")),
        "ts": pa.array([1, 2_000_000_123, 3], pa.timestamp("ns")),
    }), path)
    set_nanos_conf_if_needed(spark, path)
    assert spark.conf.get(NANOS) == "true"
    read_parquet(spark, path)
    assert _jobs(spark, lambda: read_parquet(spark, path).schema) == []
    _same_as_spark(spark, path, read_parquet(spark, path))

    events = f"{sf_dir}/events.parquet"
    set_nanos_conf_if_needed(spark, events)
    read_parquet(spark, events)
    _same_as_spark(spark, events, read_parquet(spark, events))


def test_rewrite_or_conf_change_is_a_fresh_entry(spark, tmp_path, restore_confs):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = read_parquet(spark, path)
    assert df.columns == ["a", "b"]
    _same_as_spark(spark, path, df)

    pq.write_table(pa.table({"ts": pa.array([5], pa.timestamp("ns")), "raw": [b"z"]}), path)
    spark.conf.set(NANOS, "true")
    spark.conf.set(BINARY, "false")
    assert [f.dataType.typeName() for f in read_parquet(spark, path).schema] == ["long", "binary"]
    spark.conf.set(BINARY, "true")
    assert [f.dataType.typeName() for f in read_parquet(spark, path).schema] == ["long", "string"]
    spark.conf.set(NANOS, "false")
    # Spark refuses TIMESTAMP(NANOS) without the conf; so must the memo
    with pytest.raises(AnalysisException):
        spark.read.parquet(path)
    with pytest.raises(AnalysisException):
        read_parquet(spark, path)


class _Spy:
    """Stands in for the memo: fails on any lookup or fill."""

    def entry(self, key):
        raise AssertionError(f"memo touched for {key}")


class _StubSpark:
    """Records the paths handed to ``spark.read.parquet``; nothing else."""

    def __init__(self):
        self.paths = []
        self.read = self

    def parquet(self, path):
        self.paths.append(path)
        return path


def test_directories_and_remote_uris_bypass_the_memo(spark, sf_dir, tmp_path, monkeypatch):
    d = str(tmp_path / "dir.parquet")
    spark.read.parquet(f"{sf_dir}/region.parquet").write.parquet(d)
    monkeypatch.setattr(readers, "_MEMO", _Spy())
    df = read_parquet(spark, d)
    _same_as_spark(spark, d, df)
    assert parquet_schema(spark, d) == df.schema
    glob = f"{sf_dir}/reg*.parquet"
    _same_as_spark(spark, glob, read_parquet(spark, glob))

    stub = _StubSpark()
    remote = ["s3a://bucket/t/lineitem.parquet", "hdfs://namenode:8020/t/lineitem.parquet"]
    for uri in remote:
        assert read_parquet(stub, uri) == uri
    assert stub.paths == remote


def test_footer_read_once_per_file_version(spark, sf_dir, tmp_path, monkeypatch):
    import __spark_entry__ as entry
    from docetl_spark.streaming.events import read_events_stream

    path = str(tmp_path / "events.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", path)
    real = pq.read_schema
    opened = []
    monkeypatch.setattr(pq, "read_schema", lambda p, *a, **k: opened.append(p) or real(p, *a, **k))
    cold = entry._t(spark, str(tmp_path), "events")
    assert len(opened) == 1
    warm = []
    assert _jobs(spark, lambda: warm.append(entry._t(spark, str(tmp_path), "events"))) == []
    read_events_stream(spark, path)
    assert len(opened) == 1
    assert warm[0].schema == cold.schema
    os.utime(path, ns=(0, 0))  # a new file version re-reads the footer
    entry._t(spark, str(tmp_path), "events")
    assert len(opened) == 2


def test_memo_is_a_bounded_lru():
    memo = readers._SchemaMemo(2)
    a, b = memo.entry(("a",)), memo.entry(("b",))
    assert memo.entry(("a",)) is a  # a is now the most recent
    memo.entry(("c",))
    assert len(memo) == 2
    assert memo.entry(("a",)) is a
    assert memo.entry(("b",)) is not b
