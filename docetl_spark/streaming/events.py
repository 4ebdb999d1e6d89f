"""Structured Streaming operators over event streams.

The reference is batch-only (SURVEY.md §1.4), so this module goes
beyond parity: the engine's event-stream surface for a production
pipeline — file/parquet-source streams, watermarked windowed rollups,
and stateful sessionization via applyInPandasWithState. All outputs
match their batch analogues (events_sessionize / events_user_stats in
__spark_entry__) when run with an availableNow trigger over the same
input, which is how the tests check them.

Scale posture: windowed aggregation is a streaming state-store agg
(partial aggregation + watermark eviction); sessionization keys state
by user_id so state size is O(active users), with GroupStateTimeout
evicting idle users.
"""

from __future__ import annotations

import math
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..sources.readers import normalize_epoch_nanos, parquet_schema, set_nanos_conf_if_needed


def read_events_stream(
    spark: SparkSession,
    path_dir: str,
    *,
    schema: T.StructType | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Parquet-directory source for event files. ``ts`` arrives either as
    raw nanos BIGINT (TIMESTAMP(NANOS) testdata generations) or as a
    timestamp column (TIMESTAMP(MICROS) generations); normalize to
    epoch-nanos BIGINT and expose a proper timestamp column
    ``event_time`` for watermarks."""
    import os

    set_nanos_conf_if_needed(spark, path_dir)
    if schema is None:
        schema = parquet_schema(spark, path_dir)
    reader = spark.readStream.schema(schema)
    if os.path.isfile(path_dir):
        # the streaming file source requires a directory: watch the parent,
        # filtered to this file
        reader = reader.option("pathGlobFilter", os.path.basename(path_dir))
        path_dir = os.path.dirname(path_dir)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = normalize_epoch_nanos(reader.parquet(path_dir))
    return stream.withColumn(
        # exact µs construction: double division (ts/1e9) carries ~256 ns
        # error at epoch-ns magnitudes, which can flip an event across a
        # window/watermark boundary vs an exact-integer oracle. pmod
        # first = exact FLOOR: bare DIV truncates toward zero, which
        # rounds pre-1970 (negative) timestamps UP across a boundary —
        # same pattern as the repo-wide (x - pmod(x, w)) DIV w bucketing.
        "event_time", F.expr("timestamp_micros((ts - pmod(ts, 1000)) DIV 1000)")
    )


def windowed_rollup(
    events: DataFrame,
    *,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Per (event_type, time window) rollup with late-data handling:
    count + exact integer cents sum. Watermark bounds state: windows
    older than max(event_time) - watermark are finalized and evicted."""
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    win = F.window("event_time", window, slide or window)
    return (
        events.withWatermark("event_time", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("value_cents"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "value_cents",
        )
    )


def stream_dedup(
    events: DataFrame,
    *,
    keys: list[str],
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: first arrival per key wins, duplicates
    arriving within the watermark horizon are dropped
    (``dropDuplicatesWithinWatermark`` — state per key, evicted once the
    watermark passes, so state is O(keys within the late-data horizon),
    not O(stream history). The batch analogue is SELECT DISTINCT over
    the key columns."""
    return events.withWatermark("event_time", watermark).dropDuplicatesWithinWatermark(keys)


SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), True),
        T.StructField("session_id", T.LongType(), True),
        T.StructField("n_events", T.LongType(), True),
        T.StructField("start_epoch", T.LongType(), True),
        T.StructField("end_epoch", T.LongType(), True),
    ]
)

_STATE_SCHEMA = "session_id LONG, n_events LONG, start_epoch LONG, end_epoch LONG"


def sessionize_stateful(
    events: DataFrame,
    *,
    gap_seconds: int = 1800,
    emit_open: bool = True,
) -> DataFrame:
    """Custom stateful operator: 30-min-gap sessions per user via
    applyInPandasWithState. State = the one open session per user; a batch
    closes sessions whose gap elapsed and emits them; ``emit_open``
    additionally emits the still-open session per batch (needed for
    availableNow parity runs where the stream ends).

    Skew posture: the per-key task processes ONE MICRO-BATCH of that
    key's rows (trigger-interval-bounded), not the key's whole history —
    state is O(1) per user (the single open session) and the watermark
    evicts idle keys. A hot key therefore bounds a task at
    rows-per-trigger, unlike a batch per-key window; for the batch
    analogue's hot-key escape hatch see timeseries.asof_join's
    ``hot_key_bucket`` pattern."""

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            sid, n, start, end = state.get
        else:
            sid, n, start, end = 0, 0, None, None
        out = []
        # applyInPandasWithState hands a group over as an ITERATOR of
        # Arrow chunks (split at arrow.maxRecordsPerBatch, ~10k rows)
        # with no cross-chunk ordering guarantee — sorting each chunk
        # separately would fold a >10k-event user out of time order.
        # Concat first, sort ONCE.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            allts = pd.concat([c["ts"] for c in chunks], ignore_index=True)
            epochs = sorted(int(e) // 1_000_000_000 for e in allts)
            for e in epochs:
                if end is not None and e - end > gap_seconds:
                    out.append((user_id, sid, n, start, end))
                    sid, n, start = sid + 1, 0, e
                if start is None:
                    start = e
                n += 1
                end = e
        state.update((sid, n, start, end))
        if emit_open and n:
            out.append((user_id, sid, n, start, end))
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in SESSION_SCHEMA.fields])

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


ROLLING_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_idx", T.LongType()),
        T.StructField("gap_ns", T.LongType()),
        T.StructField("rolling_n", T.LongType()),
        T.StructField("rolling_cents", T.LongType()),
    ]
)
_ROLL_STATE_SCHEMA = "idx LONG, prev_ts LONG, win ARRAY<LONG>"


def rolling_features_stateful(
    events: DataFrame,
    *,
    lookback_rows: int = 10,
) -> DataFrame:
    """Custom stateful operator: real-time per-user rolling features via
    applyInPandasWithState — the streaming counterpart of
    timeseries.rolling_features. Every event emits exactly once with its
    1-based index in the user's timeline, the exact epoch-nanos gap to
    the previous event, and trailing-``lookback_rows`` count / cents
    sum.

    State per user = (index counter, previous ts, the last k cents) —
    O(lookback) regardless of history length, the online analogue of the
    batch operator's bounded window frame. Rows inside a micro-batch are
    ordered by (ts, event_id) before folding, so an availableNow drain
    over ts-ordered files reproduces the batch operator exactly (the
    oracle contract all stream queries here follow)."""
    k = int(lookback_rows)
    if k < 1:
        raise ValueError(f"rolling_features_stateful: lookback_rows must be >= 1, got {k}")

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            idx, prev_ts, win = state.get
            win = list(win)
        else:
            idx, prev_ts, win = 0, None, []
        ids, idxs, gaps, ns, sums = [], [], [], [], []
        for ts, eid, _v in _rows_in_event_order(pdfs, ("ts", "event_id", "value")):
            val = None if pd.isna(_v) else float(_v)
            idx += 1
            # same expression as the batch query: floor(value*100 + .5);
            # NULL value occupies a window slot (the batch frame counts
            # the row) but contributes nothing to the null-skipping sum
            cents = None if val is None else int(math.floor(val * 100 + 0.5))
            win.append(cents)
            if len(win) > k:
                win.pop(0)
            ids.append(eid)
            idxs.append(idx)
            gaps.append(None if (prev_ts is None or ts is None) else ts - prev_ts)
            ns.append(len(win))
            sums.append(sum(c for c in win if c is not None) if any(c is not None for c in win) else None)
            prev_ts = ts
        state.update((idx, prev_ts, win))
        if ids:
            out = pd.DataFrame(
                {
                    "event_id": ids,
                    "user_id": [int(user_id)] * len(ids),
                    "event_idx": idxs,
                    "gap_ns": pd.array(gaps, dtype="Int64"),
                    "rolling_n": ns,
                    "rolling_cents": pd.array(sums, dtype="Int64"),
                }
            )
            yield out

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=ROLLING_SCHEMA,
        stateStructType=_ROLL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def read_parquet_stream(
    spark: SparkSession,
    path: str,
    *,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Generic parquet-file stream (schema inferred from a batch read when
    not given); file paths accepted via the parent-dir + glob trick."""
    import os

    if schema is None:
        schema = parquet_schema(spark, path)
    reader = spark.readStream.schema(schema)
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return reader.parquet(path)


def stream_dedup_against_corpus(
    stream_df: DataFrame,
    corpus_keys: DataFrame,
    on: str | list[str],
) -> DataFrame:
    """Drop arriving rows whose key(s) already exist in a STATIC corpus
    table (stream-static left-anti join — supported stateless in
    Structured Streaming, so no state store grows with the stream).

    The 100 TB shape: the static side is a pre-computed fingerprint/key
    table (one short hash per corpus doc — a few TB corpus reduces to
    GBs of keys), which Spark broadcasts when small or shuffles the
    stream side against otherwise. Incoming batches never rescan the
    corpus itself. Batch analogue: ``SELECT * FROM new ANTI JOIN corpus
    USING (key)``."""
    keys = [on] if isinstance(on, str) else list(on)
    return stream_df.join(corpus_keys.select(*keys).distinct(), keys, "left_anti")


def stream_to_parquet(
    stream_df: DataFrame,
    path: str,
    *,
    checkpoint: str,
    partition_by: str | list[str] | None = None,
    trigger_seconds: float | None = None,
    available_now: bool = False,
):
    """Durable append-mode parquet sink. Exactly-once delivery comes from
    the checkpoint (offsets + sink commit log survive restarts); only
    append mode works for file sinks, so upstream aggregations need a
    watermark to emit finalized groups. ``partition_by`` gives the landed
    dataset partition pruning for downstream batch readers. Returns the
    StreamingQuery (caller owns awaitTermination/stop); with
    ``available_now`` the query drains the backlog and stops itself."""
    w = (
        stream_df.writeStream.format("parquet")
        .outputMode("append")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )
    if partition_by:
        cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        w = w.partitionBy(*cols)
    if available_now:
        w = w.trigger(availableNow=True)
    elif trigger_seconds:
        w = w.trigger(processingTime=f"{trigger_seconds} seconds")
    return w.start()


def scratch_checkpoint_dir(prefix: str = "ckpt_") -> str:
    """Fresh checkpoint dir for a short-lived availableNow drain,
    preferring tmpfs (/dev/shm) over disk-backed /tmp: the checkpoint
    WAL/commit-log fsyncs are pure protocol overhead for a drain whose
    result is verified in-session, and tmpfs shaves the cold-drain I/O
    (measured ~2.1 -> 1.0 s on the first sf0.1 stateful drain; warm
    drains ~equal). Durable production checkpoints should of course
    live on real storage — this helper is for ephemeral drains only."""
    import os
    import tempfile

    import atexit
    import shutil

    shm = "/dev/shm"
    path = tempfile.mkdtemp(prefix=prefix, dir=shm if os.path.isdir(shm) else None)
    # drains never recover across processes, and tmpfs is RAM: reclaim
    # at interpreter exit so repeated bench/gate runs can't fill /dev/shm
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def drained_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Rebuild a DataFrame from drained rows via ONE Arrow table.

    ``spark.createDataFrame(list_of_dicts)`` serializes row-by-row
    through the driver (measured ~2s for 95k sessionization rows at
    sf0.1); handing pyspark a ``pyarrow.Table`` takes the Arrow batch
    path (~100ms) UNCONDITIONALLY — unlike the pandas argument form,
    whose behavior depends on ``spark.sql.execution.arrow.pyspark
    .enabled``. Round 6's driver gate crashed exactly there: under a
    default SparkSession (Arrow conf unset) the pandas fallback walks
    rows through type verification and a nullable Int64 column's
    ``pd.NA`` arrives as float ``nan``, raising
    ``FIELD_DATA_TYPE_UNACCEPTABLE_WITH_NAME field gap_ns``. Building
    the pa.Table ourselves keeps exact int64 (no float64 inference
    corrupting epoch-nanos above 2^53, e.g. 1700000000123456791 ->
    ...768) with true nulls, under ANY session conf.

    Non-flat/temporal schemas fall back to None-preserving tuples
    (exact, conf-independent, just slower) — no drained stream here
    emits them; the guard keeps the function total."""
    import pyarrow as pa

    empty = spark.createDataFrame([], schema=schema)
    if not rows:
        return empty
    _PA = {
        T.LongType: pa.int64(), T.IntegerType: pa.int32(),
        T.ShortType: pa.int16(), T.DoubleType: pa.float64(),
        T.FloatType: pa.float32(), T.StringType: pa.string(),
        T.BooleanType: pa.bool_(),
    }
    fields = empty.schema.fields
    if any(type(f.dataType) not in _PA for f in fields):
        data = [tuple(r.get(f.name) for f in fields) for r in rows]
        return spark.createDataFrame(data, schema=empty.schema)
    table = pa.Table.from_arrays(
        [pa.array([r.get(f.name) for r in rows], type=_PA[type(f.dataType)])
         for f in fields],
        names=[f.name for f in fields],
    )
    return spark.createDataFrame(table, schema=empty.schema)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    lower_seconds: int,
    upper_seconds: int = 0,
    left_watermark: str = "2 hours",
    right_watermark: str = "2 hours",
    left_prefix: str = "l_",
    right_prefix: str = "r_",
    exact_ns_col: str | None = None,
) -> DataFrame:
    """Stream-stream INNER interval join: left rows pair with right rows
    sharing ``on`` whose event_time lies in
    ``[left.event_time - lower_seconds, left.event_time + upper_seconds]``.

    This is Spark's canonical watermarked stream-stream join: BOTH sides
    carry watermarks and the join condition includes the time range, so
    the state store can evict a buffered row once no future arrival on
    the other side could still match it — state is
    O(rows inside watermark + range horizon), never O(stream history).
    Output mode is append-only (matches become final rows; use
    ``run_available_now(..., output_mode="append")``).

    Columns arrive prefixed (``l_``/``r_``) so the two sides never
    collide; the join key keeps the left prefix.

    ``exact_ns_col``: name of an epoch-NANOS long column present on both
    sides. When given, the semantic bounds are evaluated on the exact
    integer nanos (timestamp columns are µs-rounded doubles upstream, so
    a boundary pair could flip vs an exact oracle) and the watermarked
    TIMESTAMP range — which Spark requires for state eviction — is
    padded by 1 s each way to stay a strict superset."""
    lsel = left.select([F.col(c).alias(f"{left_prefix}{c}") for c in left.columns])
    rsel = right.select([F.col(c).alias(f"{right_prefix}{c}") for c in right.columns])
    lt, rt = f"{left_prefix}event_time", f"{right_prefix}event_time"
    lw = lsel.withWatermark(lt, left_watermark)
    rw = rsel.withWatermark(rt, right_watermark)
    pad = 1 if exact_ns_col else 0
    cond = (
        (F.col(f"{left_prefix}{on}") == F.col(f"{right_prefix}{on}"))
        & (F.col(rt) >= F.col(lt) - F.expr(f"INTERVAL {int(lower_seconds) + pad} SECONDS"))
        & (F.col(rt) <= F.col(lt) + F.expr(f"INTERVAL {int(upper_seconds) + pad} SECONDS"))
    )
    if exact_ns_col:
        lns, rns = F.col(f"{left_prefix}{exact_ns_col}"), F.col(f"{right_prefix}{exact_ns_col}")
        cond = cond & (rns >= lns - int(lower_seconds) * 1_000_000_000) & (
            rns <= lns + int(upper_seconds) * 1_000_000_000
        )
    return lw.join(rw, cond, "inner").drop(f"{right_prefix}{on}")


def adaptive_state_partitions(
    spark, source_path: str, *, floor: int = 8,
    bytes_per_partition: int = 256 << 10,
) -> int:
    """State-store partition count scaled to the DRIVER-KNOWN source
    size: clamp(floor, cores, source_bytes / bytes_per_partition).

    Stateful operators create one state store per shuffle partition per
    stateful op, and every micro-batch pays an init/commit cycle per
    store — so a SMALL drain wants few partitions (r10 measured the
    interval join 6.1 -> 2.5 s going 32 -> 8 at the bench's sf0.1),
    while a drain with 10x the rows wants the parallelism back (the r12
    sf1 slice measured rolling 19-24 s at 8 partitions vs ~11.4 s at
    32, sessions similarly). A constant tuned for either scale is wrong
    at the other (round rules: scale-adaptive, parameterized, local
    defaults); at 100 TB the byte heuristic saturates at the core count,
    which is the session's stateful parallelism ceiling anyway. The
    count is a physical-layout knob only — state contents and emitted
    rows are identical at any value (each drain's hash oracle pins it).
    """
    import os

    try:
        nbytes = (
            os.path.getsize(source_path) if os.path.isfile(source_path)
            else sum(os.path.getsize(os.path.join(r, f))
                     for r, _, fs in os.walk(source_path) for f in fs))
    except OSError:
        return floor
    cores = spark.sparkContext.defaultParallelism or floor
    return max(floor, min(cores, nbytes // bytes_per_partition))


def run_available_now(stream_df: DataFrame, *, checkpoint: str,
                      dedupe_keys: list[str] | None = None,
                      output_mode: str = "update",
                      shuffle_partitions: int | None = None) -> list:
    """Drain the stream with the availableNow trigger into an in-memory
    sink and return the rows (test/verification harness). With
    ``dedupe_keys``, later updates replace earlier emissions (update-mode
    sinks re-emit amended groups). Stream-stream joins require
    ``output_mode="append"``.

    ``shuffle_partitions`` pins the state-store partition count for THIS
    query (set at start, restored after — streaming queries snapshot the
    value into their checkpoint). Stateful operators create one state
    store per shuffle partition per stateful op (a stream-stream join
    creates FOUR), so a small drain at 32 partitions pays 128 store
    init/commit cycles per micro-batch — measured 6.1 s -> 2.5 s on the
    interval-join drain at 8. Size it to the stateful parallelism the
    data needs, not the session default. The set/restore mutates the
    SESSION conf for the query-start window: don't start other streaming
    queries concurrently from the same session while a pinned drain is
    starting (batch plans are unaffected — they read the conf at their
    own action time)."""
    import uuid

    spark = stream_df.sparkSession
    old_parts = None
    if shuffle_partitions is not None:
        old_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    # r12 drain-floor optimization (guide §5, VERDICT r12 #3): after the
    # data batches, availableNow runs one extra NO-DATA micro-batch just
    # to advance the watermark and finalize/evict state — for a drain
    # whose sinks are update-mode aggregates, eagerly-emitting stream-
    # stream inner joins, or NoTimeout applyInPandasWithState (which is
    # not even invoked on an empty batch), that batch emits NOTHING and
    # costs 0.3-1.3 s of pure state-store commit protocol (measured:
    # the interval-join drain's batch 1 = 0 rows, 1.05-1.33 s). Every
    # drained output row is produced in the data batches, so disabling
    # no-data batches for the drain changes no result (each streaming
    # oracle re-verified). Restored after: a long-lived processingTime
    # query in the same session may legitimately want event-time
    # timeouts fired by no-data batches.
    old_nodata = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    name = f"mem_{uuid.uuid4().hex[:8]}"
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if old_parts is not None:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", old_nodata)
    tbl = stream_df.sparkSession.table(name)
    # Arrow fast path only for FLAT ATOMIC non-temporal schemas:
    # temporal types come back tz-aware where Row gives session-naive,
    # and nested types change representation (struct -> dict instead of
    # Row, map -> list of pairs) — and can hide temporals inside. Every
    # drained stream query here emits flat longs/strings, so the fast
    # path still covers the hot cases.
    _nested = ("struct", "array", "map")
    flat_atomic = all(
        not f.dataType.typeName().startswith(("timestamp", "date"))
        and f.dataType.typeName() not in _nested
        for f in tbl.schema.fields
    )
    if not flat_atomic:
        rows = [r.asDict() for r in tbl.collect()]
    else:
        try:
            # Arrow extraction: C-level columnar collect, exact ints
            # (None stays None — no float64 coercion), ~2x faster than
            # per-row asDict on ~100k-row drains; row order (batch
            # append order) is preserved either way
            rows = tbl.toArrow().to_pylist()
        except Exception:  # non-Arrow-convertible output types
            rows = [r.asDict() for r in tbl.collect()]
    if dedupe_keys:
        last = {}
        for r in rows:
            last[tuple(r[k] for k in dedupe_keys)] = r
        rows = list(last.values())
    return rows


def semantic_map_stream(
    stream_df: DataFrame,
    prompt: str,
    output_schema: dict,
    backend,
    **kw,
) -> DataFrame:
    """Continuous semantic enrichment: the batch ``semantic_map`` plan is
    a stateless Arrow-batched ``mapInPandas``, which Structured Streaming
    runs unchanged per micro-batch — same semantics on batch and stream
    (what the oracle checks). This is the streaming analogue of the
    reference's map op (map.py:513): every arriving row gets one model
    call (or one batched call per ``max_batch_size`` with
    ``batch_prompt``).

    Scale posture: state-free (no state store growth); per-micro-batch
    parallelism = source partition width; the backend's rate limiter and
    ``max_concurrency`` bound executor-side call pressure; a durable sink
    (``stream_to_parquet``) gives exactly-once delivery, so a model call
    is never re-billed for a committed batch after restart.

    Knobs that need a bounded, rescannable input are rejected:
    ``limit`` (no global limit on an unbounded stream), ``calibrate``
    (driver-side sample collect at plan time).
    """
    if not stream_df.isStreaming:
        raise ValueError("semantic_map_stream expects a streaming DataFrame; use semantic_map")
    for banned in ("limit", "calibrate"):
        if kw.get(banned):
            raise ValueError(f"semantic_map_stream: {banned!r} requires a bounded batch input")
    from ..operators.semantic import semantic_map

    return semantic_map(stream_df, prompt, output_schema, backend, **kw)


def semantic_filter_stream(
    stream_df: DataFrame,
    prompt: str,
    output_schema: dict,
    backend,
    **kw,
) -> DataFrame:
    """Streaming semantic filter: like :func:`semantic_map_stream`, the
    batch plan (mapInPandas predicate + drop of the decision column) is
    stateless and runs per micro-batch unchanged. Cascades are allowed —
    both the fixed proxy threshold and a PRE-CALIBRATED one — but
    ``cascade={"guarantee": ...}`` (BARGAIN calibration) and ``limit``
    need a bounded input to sample/stop on, so they are rejected."""
    if not stream_df.isStreaming:
        raise ValueError("semantic_filter_stream expects a streaming DataFrame; use semantic_filter")
    if kw.get("limit"):
        raise ValueError("semantic_filter_stream: 'limit' requires a bounded batch input")
    if (kw.get("cascade") or {}).get("guarantee"):
        raise ValueError(
            "semantic_filter_stream: cascade calibration samples a bounded input; "
            "calibrate on a batch sample first and pass the fixed proxy_threshold"
        )
    from ..operators.semantic import semantic_filter

    return semantic_filter(stream_df, prompt, output_schema, backend, **kw)


def _rows_in_event_order(pdfs: "Iterable[pd.DataFrame]", cols: tuple) -> list:
    """Concatenate a group's Arrow chunks and return row tuples sorted
    by the leading (ts, tiebreak) pair — NULLS FIRST on ts, then
    tiebreak asc: the batch window's order. applyInPandasWithState
    splits one group at arrow.maxRecordsPerBatch with NO cross-chunk
    ordering guarantee, so per-chunk sorts fold a >10k-row group out of
    time order (pinned by test_stateful_ops_sort_across_arrow_chunks).
    The first two ``cols`` must be (ts, tiebreak) — normalized to
    int-or-None / int; trailing columns pass through raw (callers
    normalize at use: NaN != None for float columns)."""
    rows = []
    for pdf in pdfs:
        series = [pdf[c] for c in cols]
        rows.extend(
            (None if pd.isna(vals[0]) else int(vals[0]), int(vals[1]), *vals[2:])
            for vals in zip(*series)
        )
    rows.sort(key=lambda r: (r[0] is not None, r[0] or 0, r[1]))
    return rows


def transitions_stateful(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    state_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Real-time state-transition extraction via applyInPandasWithState
    — the streaming counterpart of timeseries.transitions. State per
    key is ONE (last_ts, last_state) pair (O(1) regardless of history);
    each micro-batch folds its rows in (ts_col, id_col) order and EMITS
    one (from_state, to_state) row per consecutive pair, bridging the
    batch boundary through the carried last event. Drained rows are
    final (never amended): collect them all and count downstream — the
    batch transitions() aggregate over the drained pairs reproduces the
    batch Markov matrix exactly on an in-order availableNow drain
    (cross-batch LATE data is out of contract, as with the other
    stateful ops here)."""
    out_schema = T.StructType([
        T.StructField("from_state", T.StringType()),
        T.StructField("to_state", T.StringType()),
    ])

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            last_ts, last_st = state.get
            last_ts = None if pd.isna(last_ts) else int(last_ts)
        else:
            last_ts, last_st = None, None
        froms, tos = [], []
        for ts, _eid, st in _rows_in_event_order(pdfs, (ts_col, id_col, state_col)):
            st = None if (isinstance(st, float) and pd.isna(st)) else st
            # emit only when the predecessor's state is known — the
            # batch side's `WHERE from_state IS NOT NULL` drops both
            # the first-event case and NULL-state predecessors
            if last_st is not None:
                froms.append(last_st)
                tos.append(st)
            last_ts, last_st = ts, st
        state.update((last_ts, last_st))
        if froms:
            yield pd.DataFrame({"from_state": froms, "to_state": tos})

    return events.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="last_ts LONG, last_state STRING",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_totals_stateful(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    value_col: str = "value",
    ts_col: str = "ts",
    id_col: str = "event_id",
    scale: int = 100,
) -> DataFrame:
    """Real-time per-key cumulative value via applyInPandasWithState —
    the streaming counterpart of stats.running_totals' running frame.
    State per key is ONE fixed-point long (O(1) regardless of
    history); each micro-batch folds its rows in (ts_col, id_col)
    order and emits one (key, id, cum_value) row per event, bridging
    batch boundaries through the carried sum. Values fixed-point at
    ``scale`` exactly like the batch operator (floor(v*scale + 0.5) on
    the identical IEEE double; NULLs contribute 0), so an in-order
    availableNow drain reproduces the batch cum_value column exactly —
    the registry oracle IS the batch window SQL. The group-total share
    column has no online meaning and is deliberately absent."""
    import math

    out_schema = T.StructType([
        T.StructField(user_col, events.schema[user_col].dataType),
        T.StructField(id_col, events.schema[id_col].dataType),
        T.StructField("cum_value", T.LongType()),
    ])
    s = int(scale)

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        cum = state.get[0] if state.exists else 0
        ids, cums = [], []
        for _ts, eid, v in _rows_in_event_order(pdfs, (ts_col, id_col, value_col)):
            if v is not None and not (isinstance(v, float) and pd.isna(v)):
                cum += int(math.floor(float(v) * s + 0.5))
            ids.append(eid)
            cums.append(cum)
        state.update((cum,))
        if ids:
            yield pd.DataFrame({
                user_col: [key[0]] * len(ids), id_col: ids, "cum_value": cums,
            })

    return events.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="cum LONG",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def funnel_stateful(
    events: DataFrame,
    steps: list[str],
    *,
    user_col: str = "user_id",
) -> DataFrame:
    """Real-time ordered-sequence funnel via applyInPandasWithState —
    the streaming counterpart of timeseries.funnel. State per user is
    ONE array of k first-completion timestamps (O(k) regardless of
    history), updated by folding each micro-batch's rows in (ts,
    event_id) order: step i records its first event whose user already
    completed step i-1 (earlier batch or earlier row). Each batch emits
    the user's current (step timestamps, reached) row; update-mode
    sinks keep the latest.

    Same drain contract as the other stateful ops here: rows within a
    batch fold in global event-time order (chunks concatenated then
    sorted once), so an availableNow drain over time-ordered files
    reproduces the batch funnel exactly — the registry oracle IS the
    batch funnel SQL. Cross-batch LATE data is out of contract: a step-1
    event arriving after a later step was already folded cannot
    retroactively qualify it (the batch operator replays history; the
    online one does not)."""
    if not steps:
        raise ValueError("steps must name at least one event type")
    k = len(steps)
    step_idx = {s: i for i, s in enumerate(steps)}
    # key column keeps ITS OWN type (string session keys work) — only
    # the step timestamps are pinned to long epoch-nanos
    out_schema = T.StructType(
        [T.StructField(user_col, events.schema[user_col].dataType)]
        + [T.StructField(f"step{i + 1}_ts", T.LongType()) for i in range(k)]
        + [T.StructField("reached", T.IntegerType())]
    )

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            ts_steps = [None if pd.isna(t) else int(t) for t in state.get[0]]
        else:
            ts_steps = [None] * k
        for ts, _eid, et in _rows_in_event_order(pdfs, ("ts", "event_id", "event_type")):
            i = step_idx.get(et)
            if i is None or ts_steps[i] is not None:
                continue
            if i == 0 or ts_steps[i - 1] is not None:
                ts_steps[i] = ts
        state.update((ts_steps,))
        reached = sum(1 for t in ts_steps if t is not None)
        yield pd.DataFrame(
            {
                user_col: [user_id],
                **{
                    f"step{i + 1}_ts": pd.array([ts_steps[i]], dtype="Int64")
                    for i in range(k)
                },
                "reached": [reached],
            }
        )

    return events.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="ts_steps ARRAY<LONG>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def cusum_stateful(
    events: DataFrame,
    *,
    ref_value: float,
    threshold: float,
    user_col: str = "user_id",
    value_col: str = "value",
    ts_col: str = "ts",
    id_col: str = "event_id",
    scale: int = 100,
) -> DataFrame:
    """Real-time one-sided CUSUM per key via applyInPandasWithState —
    the streaming counterpart of timeseries.changepoint_cusum with one
    honest difference: an online detector cannot know the key's future
    mean, so the reference level is a FIXED ``ref_value`` (the
    textbook deployment: target/baseline known a priori). State per
    key is the single integer statistic s (O(1) regardless of
    history); each micro-batch folds its rows in (ts, id) order with
    s = max(0, s + (cents - ref_cents)) — the recursion directly,
    since a stream IS sequential — and emits (key, id, cusum_cents,
    alarm). Cents rounding is the identical floor(v*scale + 0.5) the
    batch side uses, so an in-order drain replays the batch closed
    form with the same fixed reference bit-for-bit.
    """
    import math

    out_schema = T.StructType([
        T.StructField(user_col, events.schema[user_col].dataType),
        T.StructField(id_col, events.schema[id_col].dataType),
        T.StructField("cusum_cents", T.LongType()),
        T.StructField("alarm", T.BooleanType()),
    ])
    ref_cents = int(math.floor(float(ref_value) * scale + 0.5))
    thr_cents = int(math.floor(float(threshold) * scale + 0.5))

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        s = state.get[0] if state.exists else 0
        ids, stats = [], []
        for _ts, eid, v in _rows_in_event_order(pdfs, (ts_col, id_col, value_col)):
            if v is not None and not (isinstance(v, float) and pd.isna(v)):
                s = max(0, s + (int(math.floor(float(v) * scale + 0.5)) - ref_cents))
            # NULL value: the statistic holds (zero deviation), but the
            # row still emits its current level, like the batch op
            ids.append(eid)
            stats.append(s)
        state.update((s,))
        if ids:
            yield pd.DataFrame({
                user_col: [key[0]] * len(ids),
                id_col: ids,
                "cusum_cents": stats,
                "alarm": [x > thr_cents for x in stats],
            })

    return events.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="s LONG",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sma_crossover_stateful(
    events: DataFrame,
    *,
    short_n: int = 3,
    long_n: int = 7,
    user_col: str = "user_id",
    value_col: str = "value",
    ts_col: str = "ts",
    id_col: str = "event_id",
    scale: int = 100,
) -> DataFrame:
    """Real-time moving-average crossover detector per key via
    applyInPandasWithState — the streaming twin of
    timeseries.sma_crossover. State per key is the last ``long_n``
    fixed-point cents (O(long_n), independent of history) plus the
    previous above/not-above bit; each micro-batch folds its rows in
    (ts, id) order, compares the window means by CROSS-MULTIPLICATION
    of the sums (sum_s·n_l vs sum_l·n_s — the batch op's exact integer
    test), and emits a row ONLY on a state flip once the long window is
    full. NULL-value rows are skipped entirely (the batch op filters
    them before indexing, so they hold no window position). An in-order
    drain replays the batch op bit-for-bit: same cents rounding, same
    comparison, same first-full-window no-signal rule — the oracle is
    the batch SQL.
    """
    import math

    out_schema = T.StructType([
        T.StructField(user_col, events.schema[user_col].dataType),
        T.StructField("ts", T.LongType()),
        T.StructField("direction", T.StringType()),
        T.StructField("short_sum_cents", T.LongType()),
        T.StructField("long_sum_cents", T.LongType()),
        T.StructField("short_mean_cents", T.LongType()),
        T.StructField("long_mean_cents", T.LongType()),
    ])
    s_n, l_n = int(short_n), int(long_n)
    if not (0 < s_n < l_n):
        raise ValueError("need 0 < short_n < long_n")

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            vals, prev = list(state.get[0]), state.get[1]
        else:
            vals, prev = [], -1  # -1 = no previous full-window state yet
        out: list[tuple] = []
        for ts, _eid, v in _rows_in_event_order(pdfs, (ts_col, id_col, value_col)):
            if v is None or (isinstance(v, float) and pd.isna(v)):
                continue  # no window position, exactly like the batch filter
            vals.append(int(math.floor(float(v) * scale + 0.5)))
            if len(vals) > l_n:
                vals.pop(0)
            if len(vals) < l_n:
                continue
            ss, sl = sum(vals[-s_n:]), sum(vals)
            st = 1 if ss * l_n > sl * s_n else 0
            if prev >= 0 and st != prev:
                # truncate-toward-zero division (Spark DIV), not
                # Python's floor //: they differ on negative sums
                tms = abs(ss) // s_n * (1 if ss >= 0 else -1)
                tml = abs(sl) // l_n * (1 if sl >= 0 else -1)
                out.append((
                    key[0], int(ts), "golden" if st == 1 else "death",
                    ss, sl, tms, tml,
                ))
            prev = st
        state.update((vals, prev))
        if out:
            yield pd.DataFrame(out, columns=[
                user_col, "ts", "direction", "short_sum_cents",
                "long_sum_cents", "short_mean_cents", "long_mean_cents",
            ])

    return events.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="vals ARRAY<LONG>, prev INT",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dist_drift_stateful(
    events: DataFrame,
    *,
    ref_shares_bp: dict,
    cat_col: str = "event_type",
    window_col: str = "window_start",
) -> DataFrame:
    """Per-window total-variation drift monitor vs a BROADCAST reference
    distribution — the streaming twin of mlstats.dist_drift with the
    online substitution the family's other twins make: a live monitor
    cannot know the base period's final counts, so the base is a FIXED
    reference share map (deployment: yesterday's dist_drift detail, or
    the training corpus profile), shipped in the closure (KBs).

    Input must already carry ``window_col`` (e.g. the exact-floor day
    bucket) and ``cat_col``. Keyed by the WINDOW: state is the
    per-category count map (parallel arrays — bounded by category
    cardinality, not event count), windows parallelize across state
    partitions. Each micro-batch folds its rows in, then emits the
    window's CURRENT summary in update mode: n (events so far),
    n_categories (observed), and tv_bp = Σ|share_bp − ref_bp| DIV 2
    over the UNION of observed and reference categories, where
    share_bp = count·10⁴ DIV n — the batch op's exact floored-bp
    integer arithmetic, so the final drained row per window
    hash-matches a batch SQL replay. NULL categories are a real level
    (they match the batch op; the reference map simply has no entry,
    contributing |share − 0|). Drain with
    ``run_available_now(dedupe_keys=[window_col])`` to keep each
    window's final emission.
    """
    ref = {k: int(v) for k, v in ref_shares_bp.items()}
    out_schema = T.StructType([
        T.StructField(window_col, T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("n_categories", T.LongType()),
        T.StructField("tv_bp", T.LongType()),
    ])

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            cats, cnts = state.get
            d = dict(zip(list(cats), list(cnts)))
        else:
            d = {}
        saw = False
        for pdf in pdfs:
            saw = True
            for c, n in pdf[cat_col].value_counts(dropna=False).items():
                ck = None if pd.isna(c) else str(c)
                d[ck] = d.get(ck, 0) + int(n)
        if not saw or not d:
            return
        state.update((list(d.keys()), [int(v) for v in d.values()]))
        total = sum(d.values())
        shares = {c: n * 10000 // total for c, n in d.items()}
        union = set(shares) | set(ref)
        tv = sum(abs(shares.get(c, 0) - ref.get(c, 0)) for c in union) // 2
        yield pd.DataFrame({
            window_col: [key[0]],
            "n": [total],
            "n_categories": [len(d)],
            "tv_bp": [tv],
        })

    return events.groupBy(window_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="cats ARRAY<STRING>, cnts ARRAY<LONG>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
