"""SparkSession factory tuned for the docetl_spark engine.

Defaults follow the scale posture in SURVEY.md §7.4: AQE on (runtime
re-planning + skew-join handling), Arrow enabled for the Pandas-UDF slow
path, shuffle partitions sized to the local core count rather than the
200 default (on a real cluster this should be ~2-3x total executor
cores; AQE coalesces down as needed).

Unconfigured, the session fits the machine it starts on: ``local[N]``
with N the CPUs this process may run on (``os.sched_getaffinity``), and
a driver heap of half of physical memory (``MemTotal`` in
``/proc/meminfo``). ``$SPARK_GRAFT_CPUS`` and ``$SPARK_GRAFT_DRIVER_MEM``
(a JVM size such as ``4g``) override either.

Python workers fork from the engine's daemon, ``docetl_spark.worker_daemon``
(``spark.python.daemon.module``). Each Python task starts with
``importlib.invalidate_caches()``, which on CPython 3.11 makes every zip
importer of the worker parse its archive's central directory again
(pyspark.zip, the py4j zip, the spark-core jar): about 0.3 s of every
task on 4 cores, paid once per model op, ``run_groups`` stage and code
op. The daemon's importers re-read an archive only when its size or
mtime changed. Workers import ``docetl_spark`` from the directory that
holds it: ``get_spark`` appends that directory to
``spark.executorEnv.PYTHONPATH``, after any value ``extra_conf`` gives,
so a driver started outside the repo needs no ``PYTHONPATH``.
``extra_conf`` can name another daemon module.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

from .sources.readers import read_parquet


_WORKER_PATH = "spark.executorEnv.PYTHONPATH"
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_cores() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API on this platform
        return os.cpu_count() or 1


def _default_driver_mem() -> str:
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{int(line.split()[1]) // 2048}m"  # half, kB -> MiB
    except OSError:
        pass
    return "1g"  # Spark's own default


def get_spark(
    app_name: str = "docetl-spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = _default_cores()
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", "docetl_spark.worker_daemon")
    )
    conf = dict(extra_conf or {})
    # workers import docetl_spark (the daemon, every engine UDF) from the
    # directory that holds it, wherever the driver was started
    paths = [p for p in conf.get(_WORKER_PATH, "").split(os.pathsep) if p]
    if _PACKAGE_ROOT not in paths:
        paths.append(_PACKAGE_ROOT)
    conf[_WORKER_PATH] = os.pathsep.join(paths)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Plan nodes that already give a relation shuffle width. Anchored at node
# headers (line start after the tree prefix "+- ", ":  +- ", ...): a bare
# substring test would match user data, e.g. a literal containing "Join".
_WIDE_PLAN = re.compile(
    r"^[\s+:|-]*(?:Join|Aggregate|Sort|Window|Repartition|RepartitionByExpression|Exchange)\b",
    re.MULTILINE,
)


def widen_scan(df, *keys):
    """Repartition a scan-shaped ``df`` to the session's default
    parallelism when it arrives narrower, and leave it alone otherwise:
    round-robin with no ``keys``, hash on ``keys`` when given.

    Why: a small or single-row-group parquet file scans as ONE partition
    (below ``maxPartitionBytes`` Spark does not split it). Everything
    downstream of the scan then runs on one core: the Python batches of
    a model-call or Arrow-UDF stage (shingling, MinHash, embedding
    math), and the map-side partial aggregation, projection or explosion
    before a ``groupBy``. Round-robin is result-invariant for row-local
    stages. Hashing on the key the next aggregation groups by costs no
    extra exchange: the ``groupBy`` reuses the partitioning and its
    map-side work moves behind the exchange at full width. The count is
    passed explicitly, so AQE does not coalesce the small shuffle back
    to one task.

    The decision is made from the plan without running it. Plans that
    already contain a width-giving node (join, aggregate, sort, window,
    repartition, exchange) are skipped before the partition probe: they
    are at least ``spark.sql.shuffle.partitions`` wide, a repartition
    would be a pointless full shuffle at scale, and even
    ``rdd.getNumPartitions()`` on such a plan can materialize AQE query
    stages. A large scan arrives in many splits and never takes the
    branch, so its plan stays unchanged. Streams are returned as they
    are (``.rdd`` is invalid on them; micro-batch width rules apply)."""
    if df.isStreaming:
        return df
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return df
    if _WIDE_PLAN.search(plan):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, *keys)
    return df


def arrow_literal_ok(schema) -> bool:
    """True when every field of ``schema`` is a flat atomic NON-TEMPORAL
    type the Arrow literal-frame path (``spark.createDataFrame(pa.Table
    .from_pylist(...))`` -> JVM LocalRelation) is known value-exact for.

    Why an explicit allow-list (ADVICE r11): the Arrow sites fall back
    on Exception, which catches hard errors but not silent VALUE
    differences — naive-datetime/timezone handling differs between the
    Arrow conversion and the pickled-row path without raising, and
    nested types change representation. Timestamps, dates, intervals
    and nested types take the portable pickled path explicitly."""
    allowed = {"string", "long", "integer", "short", "byte", "double",
               "float", "boolean", "binary"}
    for f in schema.fields:
        t = f.dataType.typeName()
        if t in allowed or t.startswith("decimal"):
            continue
        return False
    return True


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Load the driver's parquet tables as a dict of DataFrames.

    Tables: region nation customer supplier part orders lineitem events
    documents embeddings (TESTDATA.md).
    """
    names = names or [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    return {n: read_parquet(spark, f"{sf_dir}/{n}.parquet") for n in names}
