"""Dataset sources. Reference: /root/reference/docetl/dataset.py:135-334 —
file formats JSON (list of objects), CSV, Parquet, and directory-of-files
(rows {path, filename, text}); plus 1->N parsing tools.

Spark realization: native readers (distributed scan, schema inference or
explicit schema), ``binaryFile``/``text`` for directories, and
``mapInPandas`` for row-expanding parsers.

``read_parquet`` is the engine's one Parquet reader. Spark infers a
Parquet schema with a job of its own, so for a single local file it
keeps the schema Spark inferred in a fixed-size LRU memo: a warm read
passes that schema back and launches no job. An entry is one version of
one file in one application: the key is the application id, the
absolute path, ``st_size`` and ``st_mtime_ns``, and each schema in it is
filed under the session's values of the confs that change Parquet
inference (``_SCHEMA_CONFS``). The same entry keeps the footer that
``set_nanos_conf_if_needed`` reads with pyarrow. Directories, globs and
non-``file`` URIs bypass the memo and infer exactly as Spark does, so a
partitioned dataset adds no driver-side walk.
"""

from __future__ import annotations

import os
import stat
import threading
from collections import OrderedDict
from pathlib import Path
from typing import Callable
from urllib.parse import urlparse

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..types import schema_of


def read_json(spark: SparkSession, path: str, *, schema: dict | None = None, multiline: bool = True) -> DataFrame:
    reader = spark.read.option("multiLine", "true" if multiline else "false")
    if schema:
        reader = reader.schema(schema_of(schema))
    return reader.json(path)


def read_csv(spark: SparkSession, path: str, *, schema: dict | None = None) -> DataFrame:
    reader = spark.read.option("header", "true")
    reader = reader.schema(schema_of(schema)) if schema else reader.option("inferSchema", "true")
    return reader.csv(path)


# Session confs that change the schema Spark infers from a Parquet footer.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)


class _FileVersion:
    """What the memo knows of one version of one local file: its pyarrow
    footer schema, and the Spark schema per value of ``_SCHEMA_CONFS``."""

    __slots__ = ("footer", "schemas")

    def __init__(self):
        self.footer = None
        self.schemas: dict[tuple, T.StructType] = {}


class _SchemaMemo:
    """Fixed-size LRU of ``_FileVersion``s."""

    def __init__(self, size: int):
        self.size = size
        self._entries: OrderedDict[tuple, _FileVersion] = OrderedDict()
        self._lock = threading.Lock()

    def __len__(self) -> int:
        return len(self._entries)

    def entry(self, key: tuple) -> _FileVersion:
        with self._lock:
            found = self._entries.get(key)
            if found is not None:
                self._entries.move_to_end(key)
                return found
            found = self._entries[key] = _FileVersion()
            if len(self._entries) > self.size:
                self._entries.popitem(last=False)
            return found


_MEMO = _SchemaMemo(256)


def _file_version(spark: SparkSession, path: str) -> _FileVersion | None:
    """The memo entry for ``path`` when it names one local file (a plain
    path on a ``file`` default filesystem, or a ``file:`` URI); None for
    directories, globs, missing files and every other filesystem."""
    if any(c in path for c in "*?[{\\"):
        return None
    url = urlparse(path)
    if url.scheme == "file":
        local = url.path
    elif url.scheme:
        return None
    else:
        default_fs = spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS")
        if not (default_fs or "file:").startswith("file:"):
            return None
        local = path
    try:
        st = os.stat(local)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    key = (spark.sparkContext.applicationId, os.path.abspath(local), st.st_size, st.st_mtime_ns)
    return _MEMO.entry(key)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``; a warm read of a single local file
    reuses the schema Spark inferred for it and launches no job."""
    version = _file_version(spark, path)
    if version is None:
        return spark.read.parquet(path)
    confs = tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS)
    schema = version.schemas.get(confs)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    version.schemas[confs] = df.schema
    return df


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema ``read_parquet`` gives ``path``."""
    return read_parquet(spark, path).schema


def _footer(path: str):
    """pyarrow schema of ``path``'s footer (of its first ``.parquet``
    file when ``path`` is a directory); None when there is none or it
    cannot be read."""
    import pyarrow.parquet as pq

    p = Path(path)
    if p.is_dir():
        # recursive: partitioned layouts (key=.../part-*.parquet) and
        # nested dirs store their footers below the top level — a
        # top-level-only glob would silently skip the sniff there
        files = sorted(p.glob("*.parquet")) or sorted(p.rglob("*.parquet"))
        if not files:
            return None
        p = files[0]
    try:
        return pq.read_schema(str(p))
    except Exception:
        # the sniff is ADVISORY: a corrupt/truncated footer (pyarrow
        # ArrowInvalid, a ValueError) must fall through to
        # spark.read.parquet, whose error names the real problem
        return None


def set_nanos_conf_if_needed(spark: SparkSession, path: str, col: str = "ts") -> None:
    """Set ``spark.sql.legacy.parquet.nanosAsLong`` ONLY when ``path``
    actually stores ``col`` as parquet TIMESTAMP(NANOS) (Spark 4
    refuses to read nanos timestamps without it; it then surfaces them
    as raw epoch-nanos BIGINT, which is what the epoch-math pipeline
    wants anyway).

    The conf is consulted at scan time, not just schema inference, so
    when it IS needed it must stay set for the session — but for
    MICROS-generation data (the common case) this makes the read fully
    self-contained: no session conf is touched at all. Round 6 set it
    unconditionally, which is exactly the mutate-global-conf-at-read
    pattern that made drained_df environment-sensitive.

    A single local file's footer is read once per file version: it is
    kept in ``read_parquet``'s memo entry for that version."""
    version = _file_version(spark, path)
    footer = version.footer if version is not None else None
    if footer is None:
        footer = _footer(path)
        if footer is None:
            return
        if version is not None:
            version.footer = footer
    if col not in footer.names:
        return
    if getattr(footer.field(col).type, "unit", None) == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def normalize_epoch_nanos(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize a timestamp-ish column to epoch-nanos BIGINT.

    Event data has shipped with ``ts`` physically stored two different
    ways across testdata generations: parquet TIMESTAMP(NANOS) (read as
    raw-nanos BIGINT under ``spark.sql.legacy.parquet.nanosAsLong``) and
    parquet TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ / TIMESTAMP).
    Downstream epoch math (sessionization gaps, hourly windows) is
    integer arithmetic on nanos, so fold every representation to that.

    TIMESTAMP_NTZ carries a wall clock with no zone; DuckDB's
    ``epoch_ns`` treats the same wall clock as UTC. The conversion here
    is pure wall-clock day/time arithmetic (datediff + hour/minute/
    fractional-second), so it is session-timezone independent — no
    ``unix_micros`` (whose NTZ coercion reads the session zone) and no
    hidden session-conf mutation."""
    dt = df.schema[col].dataType.typeName()
    if dt.startswith("timestamp"):
        ns = (
            f"(CAST(datediff(CAST({col} AS DATE), DATE'1970-01-01') AS BIGINT) * 86400000000"
            f" + CAST(hour({col}) AS BIGINT) * 3600000000"
            f" + CAST(minute({col}) AS BIGINT) * 60000000"
            f" + CAST(extract(second from {col}) * 1000000 AS BIGINT)) * 1000"
        )
        df = df.withColumn(col, F.expr(ns).cast("long"))
    return df


def read_dir(spark: SparkSession, path: str, *, glob: str | None = None) -> DataFrame:
    """Directory dataset: every file as one row {path, filename, text}
    (dataset.py:361-368). Text files read distributed via wholetext."""
    reader = spark.read.format("text").option("wholetext", "true")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return (
        reader.load(path)
        .select(
            F.input_file_name().alias("path"),
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("filename"),
            F.col("value").alias("text"),
        )
    )


def from_list(spark: SparkSession, rows: list[dict], *, schema: dict | None = None) -> DataFrame:
    """Rows as a DataFrame, typed by ``schema`` or inferred. A key that
    is None in every row gives inference no type; it comes out as an
    all-null string column, as Spark's JSON reader types such a field."""
    if schema:
        return spark.createDataFrame(rows, schema=schema_of(schema))
    if rows and all(isinstance(r, dict) for r in rows):
        typed = {k for r in rows for k, v in r.items() if v is not None}
        untyped = {k for r in rows for k in r} - typed
        if untyped:
            probe = [{**rows[0], **dict.fromkeys(untyped, "")}, *rows[1:]]
            return spark.createDataFrame(rows, schema=spark.createDataFrame(probe).schema)
    return spark.createDataFrame(rows)


def apply_parser(
    df: DataFrame,
    parser: Callable[[dict], list[dict]],
    output_schema: dict,
) -> DataFrame:
    """Row-expanding parsing tool (1 row -> N rows, ``item | res`` merge;
    dataset.py:402-409). Runs Arrow-batched."""
    declared = schema_of(output_schema)
    fields = [f for f in df.schema.fields if f.name not in declared.fieldNames()]
    out_schema = T.StructType(fields + list(declared.fields))
    names = out_schema.fieldNames()

    def run(batches):
        for pdf in batches:
            out = []
            for row in pdf.to_dict("records"):
                for res in parser(row):
                    merged = {**row, **res}
                    out.append({k: merged.get(k) for k in names})
            yield pd.DataFrame(out, columns=names)

    return df.mapInPandas(run, schema=out_schema)


def write_output(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    partition_by: str | list[str] | None = None,
    compression: str | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Sink dispatch on extension (runner.py:91-113): .json/.csv/.parquet.

    Scale knobs beyond the reference's single-file writers:
    - ``partition_by``: hive-style directory partitioning — downstream
      readers filtering on those columns get partition pruning (whole
      directories skipped at the scan, no footer reads).
    - ``max_records_per_file``: bounds output file size so a skewed
      partition doesn't produce one multi-GB file.
    - ``compression``: e.g. ``zstd`` for parquet cold storage.
    """
    w = df.write.mode(mode)
    if partition_by:
        cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        w = w.partitionBy(*cols)
    if compression:
        w = w.option("compression", compression)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", int(max_records_per_file))
    if path.endswith(".json"):
        w.json(path)
    elif path.endswith(".csv"):
        w.option("header", "true").csv(path)
    else:
        w.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    *,
    bucket_by: str | list[str],
    num_buckets: int = 32,
    sort_by: str | list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) managed/external
    table. Two tables bucketed identically on their join key equi-join
    WITHOUT a shuffle — both sides' bucket files line up, so at 100 TB
    the join is a per-bucket zip instead of a full exchange (and with
    ``sort_by`` a merge join with no sort stage). Spark only honors
    bucketing through ``saveAsTable`` — plain ``.parquet(path)`` writes
    drop the metadata, hence the table-name API."""
    cols = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    w = df.write.mode(mode).bucketBy(num_buckets, *cols)
    if sort_by:
        sc = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        w = w.sortBy(*sc)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def zorder_value(cols: list, *, mins: list, maxs: list, bits: int = 16):
    """Morton (Z-order) key over numeric columns: min/max-scale each to
    ``bits`` bits and interleave. Pure JVM expressions (2*bits shifts
    per dimension), no UDF. ``mins``/``maxs`` are the per-column bounds
    (literals — from a 1-row agg)."""
    from pyspark.sql import functions as F

    n = len(cols)
    scaled = []
    for c, lo, hi in zip(cols, mins, maxs):
        col = F.col(c) if isinstance(c, str) else c
        span = float(hi) - float(lo) or 1.0
        s = ((col.cast("double") - float(lo)) / span * ((1 << bits) - 1))
        scaled.append(F.least(F.greatest(s.cast("long"), F.lit(0)), F.lit((1 << bits) - 1)))
    z = F.lit(0).cast("long")
    for b in range(bits):
        for d, s in enumerate(scaled):
            bit = F.shiftright(s, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + d))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    *,
    by: list[str],
    num_files: int = 32,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Write parquet laid out along a Z-order curve over ``by``: rows
    close in ALL those dimensions land in the same file, so per-file
    min/max footer stats are selective for predicates on ANY of them —
    multi-dimensional data skipping, where a plain sort only skips on
    its leading column. The lever at 100 TB: a scan with a filter on
    the second dimension reads a handful of files instead of all of
    them.

    Column bounds come from one tiny aggregate; the layout itself is a
    repartitionByRange + in-partition sort on the Morton key (one
    exchange). Skewed dimensions: min/max scaling degrades toward fewer
    effective bits — pre-transform (e.g. log) heavy-tailed columns."""
    from pyspark.sql import functions as F

    bounds = df.agg(
        *[F.min(c).alias(f"_lo_{i}") for i, c in enumerate(by)],
        *[F.max(c).alias(f"_hi_{i}") for i, c in enumerate(by)],
    ).collect()[0]
    mins = [bounds[f"_lo_{i}"] for i in range(len(by))]
    maxs = [bounds[f"_hi_{i}"] for i in range(len(by))]
    if any(v is None for v in mins + maxs):  # empty input: plain write
        df.write.mode(mode).parquet(path)
        return
    z = zorder_value(by, mins=mins, maxs=maxs, bits=bits)
    (
        df.withColumn("_z", z)
        .repartitionByRange(num_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )


def dataset_stats(df, dataset_name: str = "data") -> str:
    """Formatted dataset statistics (reference utils_dataset.py:11-86:
    record count, per-field average size, ~token estimate at 4
    chars/token). Spark-first: ONE aggregation pass computes every
    field's stats — length sums for strings, casts for numerics,
    to_json length for arrays/structs — instead of a Python loop over
    collected records, so it runs on any size input."""
    from pyspark.sql import functions as F, types as T

    aggs = [F.count(F.lit(1)).alias("_n")]
    str_like: list[str] = []
    for f in df.schema.fields:
        if f.name.startswith("GT "):
            continue  # ground-truth columns excluded (utils_dataset.py:39)
        if isinstance(f.dataType, T.StringType):
            aggs.append(F.sum(F.length(F.coalesce(F.col(f.name), F.lit("")))).alias(f"_c_{f.name}"))
            aggs.append(F.count(F.col(f.name)).alias(f"_k_{f.name}"))
            str_like.append(f.name)
        elif isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
            aggs.append(F.sum(F.length(F.to_json(F.col(f.name)))).alias(f"_c_{f.name}"))
            aggs.append(F.count(F.col(f.name)).alias(f"_k_{f.name}"))
            str_like.append(f.name)
        elif isinstance(f.dataType, T.BinaryType):
            # multimodal payloads: bytes count, no token contribution
            aggs.append(F.sum(F.length(F.col(f.name))).alias(f"_c_{f.name}"))
            aggs.append(F.count(F.col(f.name)).alias(f"_k_{f.name}"))
        elif isinstance(f.dataType, T.NumericType):
            aggs.append(F.lit(None).cast("long").alias(f"_c_{f.name}"))
            aggs.append(F.count(F.col(f.name)).alias(f"_k_{f.name}"))
    row = df.agg(*aggs).first()
    n = row["_n"]
    if not n:
        return f"Dataset: {dataset_name}\nType: file\nRecords loaded: 0\nNo data available"
    total_chars = 0
    lines = [f"Dataset: {dataset_name}", f"Records loaded: {n}", "Fields:"]
    for f in df.schema.fields:
        if f.name.startswith("GT ") or f"_k_{f.name}" not in row.asDict():
            continue
        chars = row[f"_c_{f.name}"]
        cnt = row[f"_k_{f.name}"]
        if f.name in str_like and chars is not None:
            total_chars += chars
            avg = chars / cnt if cnt else 0
            lines.append(f"  {f.name} ({f.dataType.simpleString()}): avg {avg:.0f} chars")
        elif isinstance(f.dataType, T.BinaryType):
            lines.append(f"  {f.name} (binary): {chars or 0:,} bytes total")
        else:
            total_chars += 5 * cnt  # numeric ~5 chars (utils_dataset.py:54)
            lines.append(f"  {f.name} ({f.dataType.simpleString()}): numeric")
    lines.append(f"Estimated tokens: ~{int(total_chars / 4):,} (4 chars/token)")
    return "\n".join(lines)
