"""get_spark's defaults must fit the machine it runs on when no
SPARK_GRAFT_* override is set: no more cores than this process may use,
no larger driver heap than physical memory."""

import os
import re
import types

import pytest

from docetl_spark import session


class _RecordingBuilder:
    def __init__(self):
        self.conf = {}

    def master(self, m):
        self.conf["master"] = m
        return self

    def appName(self, _name):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        return types.SimpleNamespace(sparkContext=types.SimpleNamespace(setLogLevel=lambda _lvl: None))


def _mem_total_bytes():
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    pytest.skip("no /proc/meminfo on this platform")


def _jvm_bytes(size: str) -> int:
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", size.strip().lower())
    assert m, size
    return int(m.group(1)) * 1024 ** " kmgt".index(m.group(2) or " ")


def test_get_spark_defaults_fit_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    builder = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=builder))
    session.get_spark("defaults-probe")

    cores = int(re.fullmatch(r"local\[(\d+)\]", builder.conf["master"]).group(1))
    assert 1 <= cores <= len(os.sched_getaffinity(0))
    assert int(builder.conf["spark.sql.shuffle.partitions"]) == cores
    heap = _jvm_bytes(builder.conf["spark.driver.memory"])
    assert 0 < heap <= _mem_total_bytes()


def test_get_spark_starts_workers_from_the_engine_daemon(monkeypatch):
    builder = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=builder))
    session.get_spark("daemon-probe")
    assert builder.conf["spark.python.daemon.module"] == "docetl_spark.worker_daemon"

    builder = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=builder))
    session.get_spark("daemon-probe", extra_conf={"spark.python.daemon.module": "pyspark.daemon"})
    assert builder.conf["spark.python.daemon.module"] == "pyspark.daemon"


def test_get_spark_puts_the_package_on_the_workers_path(monkeypatch):
    root = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    key, sep = "spark.executorEnv.PYTHONPATH", os.pathsep
    for given, expected in [(None, root), (f"/srv/a{sep}/srv/b", f"/srv/a{sep}/srv/b{sep}{root}"),
                            (f"{root}{sep}/srv/a", f"{root}{sep}/srv/a")]:
        builder = _RecordingBuilder()
        monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=builder))
        session.get_spark("path-probe", extra_conf={key: given} if given else None)
        assert builder.conf[key] == expected
