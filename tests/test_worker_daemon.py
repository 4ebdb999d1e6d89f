"""The engine's Python worker daemon (``docetl_spark.worker_daemon``):
zip importers re-read an archive only when it has changed, and a worker
that dies is replaced and its task retried."""

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


def test_a_worker_parses_pyspark_zip_once(spark):
    def pyspark_zip_directory(rows):
        """In a worker: invalidate the import caches as every task does,
        then report the id the previous call on this worker saw and the
        id of the parsed pyspark.zip directory now (the object is kept
        alive, so equal ids mean the same object). The input is
        drained: a worker that leaves input unread is not reused."""
        for _ in rows:
            pass
        importlib.invalidate_caches()
        archives = [a for a in zipimport._zip_directory_cache if os.path.basename(a) == "pyspark.zip"]
        if not archives:
            return [(None, None)]
        files = zipimport._zip_directory_cache[archives[0]]
        seen = getattr(zipimport, "_docetl_test_seen", None)
        zipimport._docetl_test_seen = files
        return [(id(seen) if seen is not None else None, id(files))]

    sc = spark.sparkContext
    for _ in range(8):
        ((prev, cur),) = sc.parallelize([0], 1).mapPartitions(pyspark_zip_directory).collect()
        if cur is None:
            pytest.skip("workers do not import pyspark from pyspark.zip")
        if prev is not None:
            assert prev == cur, "the worker re-read pyspark.zip between two tasks"
            return
    pytest.fail("no two of 8 one-task jobs ran on the same worker")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture()
def stamped(monkeypatch, tmp_path):
    """A zip on sys.path, imported through the stamped importer."""
    from docetl_spark import worker_daemon

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon._invalidate_caches)
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"docetl_zip_mod_a": "A = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("docetl_zip_mod_a", "docetl_zip_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("docetl_zip_mod_a").A == 1
    yield str(archive)
    zipimport._zip_directory_cache.pop(str(archive), None)
    sys.path_importer_cache.pop(str(archive), None)


def test_stamped_importer_rereads_a_rewritten_archive(stamped):
    importlib.invalidate_caches()
    _write_zip(stamped, {"docetl_zip_mod_a": "A = 1\n", "docetl_zip_mod_b": "B = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("docetl_zip_mod_b").B == 2


def test_stamped_importer_keeps_an_unchanged_archive(stamped):
    importlib.invalidate_caches()
    files = zipimport._zip_directory_cache[stamped]
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[stamped] is files
    os.utime(stamped, ns=(0, 0))  # same size, new mtime: read again
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[stamped] is not files


_KILL_ONE_WORKER = """
import json, os, sys
from pyspark import TaskContext
from docetl_spark import SemanticFrame, get_spark

marker = sys.argv[1]

def double(row):
    tc = TaskContext.get()
    if tc.partitionId() == 0 and tc.attemptNumber() == 0:
        open(marker, "w").close()
        os._exit(1)
    return {"y": row["x"] * 2}

spark = get_spark("worker-death", master="local[2,2]")
df = spark.createDataFrame([(i,) for i in range(10)], "x long").repartition(2)
rows = SemanticFrame.from_df(df).code_map(double, {"y": "int"}).collect()
print(json.dumps(sorted((r["x"], r["y"]) for r in rows)))
spark.stop()
"""


def test_a_killed_worker_is_replaced_and_its_task_retried(tmp_path):
    marker = tmp_path / "died"
    proc = subprocess.run([sys.executable, "-c", _KILL_ONE_WORKER, str(marker)],
                          capture_output=True, text=True, cwd=str(REPO), timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert marker.exists(), "no worker died: the test did not exercise the retry"
    assert json.loads(proc.stdout.splitlines()[-1]) == [[x, 2 * x] for x in range(10)]


_OUTSIDE_THE_REPO = """
import sys
sys.path.insert(0, sys.argv[1])
from docetl_spark import get_spark

spark = get_spark("outside", master="local[2]")
print(spark.sparkContext.parallelize([1, 2, 3], 2).map(lambda x: x * 10).collect())
spark.stop()
"""


def test_workers_import_the_engine_from_a_driver_started_elsewhere(tmp_path):
    # the driver finds the package through sys.path alone: no PYTHONPATH,
    # and a working directory outside the repo
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run([sys.executable, "-c", _OUTSIDE_THE_REPO, str(REPO)],
                          capture_output=True, text=True, cwd=str(tmp_path), env=env,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.splitlines()[-1] == "[10, 20, 30]"
