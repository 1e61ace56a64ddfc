"""Structured Streaming ingest over the `events` table.

The reference is strictly batch (single pg connection, single goroutine —
/root/reference/dialect/postgres/postgres.go:21-35); this module adds the
streaming surface a scale pipeline needs. The same expressions used by the
batch operators (operators/events.py) run here under watermarks, so batch
and stream agree — tests assert exactly that with an availableNow trigger.

Pieces:
- ``read_events_stream``   file-source stream; probes the parquet footer for
                           the ts unit (ns legacy / µs current fixtures) and
                           pins the matching explicit schema streams require
- ``tumbling_stream``      watermarked tumbling-window count/sum
- ``session_stream``       watermarked session windows (F.session_window)
- ``running_totals_stream``custom stateful operator via
                           applyInPandasWithState: per-user cumulative
                           event count + value sum emitted per micro-batch
"""

from __future__ import annotations

import atexit as _atexit
import os
from contextlib import contextmanager as _contextmanager

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)


def _events_schema(ts_unit: str) -> StructType:
    """events stream schema for a given parquet ts unit: ns fixtures need
    LongType (Spark can't scan INT64 TIMESTAMP(NANOS) natively; under
    nanosAsLong they surface as bigint), µs fixtures read natively as NTZ."""
    ts_type = LongType() if ts_unit == "ns" else TimestampNTZType()
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def _ts_unit(sf_dir: str) -> str:
    """`ts` time unit of the events fixture — delegates to the catalog's
    shared footer probe so the batch reader and the stream can never
    disagree on the unit (the fixtures have shipped both TIMESTAMP(NANOS)
    and TIMESTAMP(MICROS) over time, and streams pin an explicit schema
    so the unit must be decided up front)."""
    from mover_spark.catalog import parquet_ts_unit

    return parquet_ts_unit(f"{sf_dir}/events.parque*", "ts")


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    unit = _ts_unit(sf_dir)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # glob, not a literal file path: FileStreamSource requires a directory
    # or pattern (basePath resolves to the parent dir)
    raw = (
        spark.readStream.schema(_events_schema(unit))
        .parquet(f"{sf_dir}/events.parque*")
    )
    if unit == "ns":
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # watermarks need TIMESTAMP (not NTZ); the session runs UTC, so the
    # cast is value-preserving and the final NTZ cast at output undoes it
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_stream(events: DataFrame, width: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling window: late data beyond `watermark` is dropped,
    state is bounded — the streaming twin of operators.events.tumbling_counts."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def session_stream(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("total_q", LongType())]
)
_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

#: fixed-point scale for the stateful sum: values are quantized to 1e-4
#: BEFORE accumulating, so the state is an int64 and the total is exact in
#: ANY accumulation order — micro-batch boundaries and row order can't
#: change the answer, which is what makes the query hash-checkable against
#: a batch oracle (a raw float fold would be order-dependent)
QUANT = 10_000


def _quantize(values) -> int:
    """round-half-away-from-zero(value * QUANT) summed as int64 — mirrors
    FLOOR(ABS(v)*QUANT + 0.5)*SIGN(v) exactly (numpy's own round() is
    half-even; Spark/DuckDB round half away from zero). Null values SKIP,
    exactly like the batch F.sum they must agree with: the schema's
    DoubleType is nullable and this is the at-least-once ingest path —
    without the mask a single NULL renders as NaN, and NaN.astype(int64)
    is INT64_MIN, silently wrecking the running total."""
    import numpy as np

    v = values.to_numpy(dtype="float64")
    v = v[~np.isnan(v)]
    q = np.floor(np.abs(v) * QUANT + 0.5) * np.sign(v)
    return int(q.astype("int64").sum())


def _update_totals(key, pdf_iter, state: GroupState):
    """Stateful accumulator: fold each micro-batch into (n, total_q)."""
    n, total_q = state.get if state.exists else (0, 0)
    for pdf in pdf_iter:
        n += len(pdf)
        total_q += _quantize(pdf["value"])
    state.update((n, total_q))
    # one IEEE division at emit time is engine-exact (same double on any
    # engine computing total_q / QUANT)
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total_q / QUANT]}
    )


def running_totals_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    totals, one row per user per micro-batch — the pattern for any
    accumulating state Spark's built-in aggs can't express."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_totals,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_DRAIN_SEQ = [0]

#: memory-sink tables created by past run_to_memory drains, dropped at the
#: start of the next drain (see run_to_memory)
_DRAIN_TABLES: list[str] = []


def drained_table(spark: SparkSession, name: str) -> DataFrame:
    """Materialized snapshot of a finished drain's memory-sink table:
    ``localCheckpoint(eager=True)`` detaches the result from the temp view,
    so it stays readable after run_to_memory's next drain drops the view —
    a lazy ``spark.table(name)`` would raise table-not-found there, the
    silent contract change ADVICE flagged. Drain results are
    aggregate-sized, so the eager materialization is cheap; the
    checkpointed blocks are GC'd with the DataFrame by the context
    cleaner."""
    return spark.table(name).localCheckpoint(eager=True)


def tumbling_batch_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming query with a batch-checkable answer: ingest the
    events fixture as an availableNow stream, run the watermarked tumbling
    aggregation with order-invariant decimal sums, drain to a memory sink,
    and return the result — bit-identical to the batch tumbling query, so
    the DuckDB oracle applies to the STREAMING path too."""
    # watermarks require TIMESTAMP (not NTZ); the session runs UTC, so the
    # final cast of the window start to NTZ is value-preserving
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    _DRAIN_SEQ[0] += 1
    name = f"streaming_tumbling_{_DRAIN_SEQ[0]}"
    run_to_memory(agg, name, input_bytes=fixture_bytes(sf_dir, "events"))
    return drained_table(spark, name)


def sliding_batch_parity(
    spark: SparkSession, sf_dir: str, width: str = "2 hours", slide: str = "1 hour"
) -> DataFrame:
    """Streaming SLIDING windows with a batch-checkable answer: each event
    lands in width/slide overlapping windows (state = width/slide
    concurrent buckets per key — still watermark-bounded, unlike sessions
    it never merges). Order-invariant decimal sums make the drained result
    bit-identical to the batch sliding query, so one DuckDB oracle checks
    both paths."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )
    _DRAIN_SEQ[0] += 1
    name = f"streaming_sliding_{_DRAIN_SEQ[0]}"
    run_to_memory(agg, name, input_bytes=fixture_bytes(sf_dir, "events"))
    return drained_table(spark, name)


def session_batch_parity(spark: SparkSession, sf_dir: str, gap: str = "30 minutes") -> DataFrame:
    """Streaming session windows with a batch-checkable answer: ingest the
    events fixture as an availableNow stream, run watermarked
    ``session_window`` per user with order-invariant decimal sums, drain to
    a FILE sink (complete-mode foreachBatch rewrite: per-(user, session)
    rows are corpus-scale — millions at the 100x fixture — and the memory
    sink's driver collect OOMed there; the session table itself stays in
    distributed state-store memory either way). Gap-merge semantics are
    identical to the batch sessionize query, so the same DuckDB islands
    oracle hash-checks the STREAMING path — the proof that session state
    merging (the one windowing mode where state is not a fixed bucket but
    a growing interval) is exact under micro-batching."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,4)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )
    _DRAIN_SEQ[0] += 1
    name = f"streaming_session_{_DRAIN_SEQ[0]}"
    return run_to_files(
        agg,
        name,
        output_mode="complete",
        input_bytes=fixture_bytes(sf_dir, "events"),
    )


def fixture_bytes(sf_dir: str, table: str) -> int:
    """Total on-disk bytes of ``{sf_dir}/{table}.parque*`` (file or
    directory layout) — the drain-sizing input for ``run_to_memory``.
    Returns 0 when the path doesn't resolve (remote/URI sources): the
    caller then keeps the small-drain default."""
    import glob as _glob
    import os as _os

    total = 0
    for p in _glob.glob(_os.path.join(sf_dir, f"{table}.parque*")):
        if _os.path.isdir(p):
            for root, _, files in _os.walk(p):
                total += sum(
                    _os.path.getsize(_os.path.join(root, f)) for f in files
                )
        else:
            total += _os.path.getsize(p)
    return total


#: bytes of drained source per state partition: small drains collapse to
#: the 4-partition floor (state machinery is pure fixed cost there); big
#: drains scale up to the session's shuffle partitions so the stateful
#: stage parallelizes. Calibrated by isolated A/B at sf10 (205 MB events,
#: 32 threads): running-totals drain 49.9 s at 4 partitions vs 12.6 s at
#: 32 — the fixed clamp that made sf0.1 drains 15-20% faster was a 4x
#: scale bug two decades up.
_DRAIN_BYTES_PER_PARTITION = 4 << 20


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
    input_bytes: int | None = None,
):
    """Drain a stream with availableNow into a memory sink; returns the
    finished query (caller reads spark.table(name)).

    State-store sizing: a stateful micro-batch materializes one state-store
    instance (files, maintenance thread, commit entries) PER shuffle
    partition per stateful operator — at the batch default of 32 that fixed
    machinery dominates a small drain's wall clock, while a big drain
    NEEDS the parallelism. The drain therefore sets
    ``spark.sql.shuffle.partitions`` (captured at query START, so the
    batch session conf is restored immediately after .start()) from the
    source size: ``input_bytes / 4 MB`` clamped to [4, session shuffle
    partitions]; callers pass ``input_bytes=fixture_bytes(sf_dir, ...)``;
    without it the small-drain floor of 4 applies. Results are
    unaffected: every drained query here is order-invariant by
    construction (decimal sums, exact joins/dedup, quantized state). On a
    real cluster the session shuffle-partition conf is O(total executor
    cores), so the cap scales with the cluster instead of one machine."""
    spark = stream_df.sparkSession

    # A memory sink collects its FULL result to the driver and holds it for
    # the session lifetime; with monotone drain names nothing ever drops
    # them, so a long session (the bench suite runs 100+ queries in one
    # JVM) accumulates every past drain's rows as dead heap. Each new drain
    # therefore drops all previous drains' tables first. Callers that hand
    # results to library consumers return drained_table() — an eagerly
    # localCheckpoint'ed snapshot that stays readable after the view drops —
    # so only the raw temp-view NAME becomes invalid once the next drain
    # starts, never a previously returned DataFrame.
    while _DRAIN_TABLES:
        stale = _DRAIN_TABLES.pop()
        if stale != name:
            try:
                spark.catalog.dropTempView(stale)
            except Exception:
                pass

    with _drain_confs(spark, input_bytes):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
    # register for cleanup as soon as the sink table exists — a drain that
    # FAILS mid-awaitTermination (its caller catches and moves on, as the
    # bench harness does) must not leak its partial memory sink forever
    _DRAIN_TABLES.append(name)
    q.awaitTermination()
    return q


@_contextmanager
def _drain_confs(spark: SparkSession, input_bytes: int | None, extra: dict | None = None):
    """Capture-at-start conf bracket shared by every availableNow drain
    (restored immediately after .start(), so the batch session never
    inherits streaming tuning):

    - ``spark.sql.shuffle.partitions`` from source size — a stateful
      micro-batch materializes one state-store instance per shuffle
      partition per stateful operator, pure fixed cost on a small drain,
      needed parallelism on a big one: ``input_bytes / 4 MB`` clamped to
      [4, session shuffle partitions], floor 4 without ``input_bytes``.
    - Short-drain state-store tuning: background maintenance can never
      usefully fire inside a 1-2 micro-batch drain (pushed past its
      lifetime) and only the last commit is ever read back (retain 2).
      Isolated A/B on the stream-stream joins at sf0.1 (32-thread local):
      clamp 8 -> 4 plus these two confs took the warm interval-join
      drains from 2.7-3.3 s to 2.0-2.8 s (~15-20%)."""
    if input_bytes:
        sess = int(spark.conf.get("spark.sql.shuffle.partitions", "32") or 32)
        n_state = str(
            max(4, min(sess, input_bytes // _DRAIN_BYTES_PER_PARTITION))
        )
    else:
        n_state = "4"
    confs = {
        "spark.sql.shuffle.partitions": n_state,
        "spark.sql.streaming.stateStore.maintenanceInterval": "600s",
        "spark.sql.streaming.minBatchesToRetain": "2",
    }
    if extra:
        confs.update(extra)
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _rocksdb_threshold_bytes(spark) -> int:
    """Source bytes beyond which a file drain switches the state store to
    RocksDB (off-heap, disk-backed). ADAPTIVE to the JVM heap, not a fixed
    512 MiB. Measured sweep (BASELINE.md round-9 state-store table, 16g
    heap): the in-heap HDFSBackedStateStore wins every size it survives —
    streaming_dedup at sf10 (410 MB source) runs 17.6 s heap vs 26.5 s
    RocksDB, streaming_session 15.8 vs 20.0 — and dies by OOM at sf100
    (session input 1.7 GB compressed parquet: keyed state + result table
    expand ~10x into the heap). So the right rule is 'heap until the heap
    can't', which a fixed 512 MiB gets wrong in BOTH directions: at 16g
    it pushes the 410 MB sf10 drain onto RocksDB needlessly (1.5x), and
    on a 4g executor it would keep a 500 MB source in-heap and OOM.
    heap/16 (1 GiB at 16g) sits inside the measured safe(0.41 GB)..
    fatal(1.7 GB) gap with ~1.7x margin for worse-compressed sources;
    RocksDB's modest constant factor is the cheap side of that
    asymmetry. ``MOVER_SPARK_ROCKSDB_BYTES`` overrides for testing and
    ops."""
    env = os.environ.get("MOVER_SPARK_ROCKSDB_BYTES")
    if env is not None:
        return int(env)
    try:
        heap = int(
            spark._jvm.java.lang.Runtime.getRuntime().maxMemory()  # noqa: SLF001
        )
    except Exception:
        heap = 16 << 30  # conservative default matching the bench session
    return _rocksdb_threshold_for_heap(heap)


def _rocksdb_threshold_for_heap(heap: int) -> int:
    """The RocksDB switch point for a JVM heap of `heap` bytes: heap/16."""
    return heap // 16

#: temp dirs of past run_to_files drains — kept for the session (returned
#: DataFrames lazily read them), removed at interpreter exit
_DRAIN_DIRS: list[str] = []


def _cleanup_drain_dirs() -> None:
    import shutil

    while _DRAIN_DIRS:
        shutil.rmtree(_DRAIN_DIRS.pop(), ignore_errors=True)


_atexit.register(_cleanup_drain_dirs)


def run_to_files(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "append",
    input_bytes: int | None = None,
) -> DataFrame:
    """Distributed drain for CORPUS-SIZED streaming output: rows land in
    executor-written parquet and never touch the driver — the row-level
    twin of ``run_to_memory``, whose memory sink collects the FULL result
    to the driver (fine for aggregate-sized results; streaming
    ingest-dedup at the 100x fixture OOMed the 16g heap). This is also
    the production shape: a streaming dedup/sessionize lands in a bronze
    table, downstream jobs read the table.

    append mode uses the native file sink (exactly-once via its
    _spark_metadata commit log). complete mode — windowed/session
    aggregations whose tail would be withheld by append's watermark gate —
    goes through foreachBatch + distributed parquet overwrite: the result
    table lives in executor state-store memory, each batch rewrites it in
    parallel, the last rewrite is the complete answer. Big drains
    (source > heap/8, adaptive — see ``_rocksdb_threshold_bytes``;
    ``$MOVER_SPARK_ROCKSDB_BYTES`` overrides) also swap the per-query
    state store to RocksDB (off-heap, disk-backed) — keyed state no
    longer competes with the JVM heap.

    Returns the parquet read-back (source schema enforced; empty stream →
    empty DataFrame). The drain's temp dir lives until interpreter exit so
    returned DataFrames stay readable; a long-lived service draining many
    corpora should point SPARK_LOCAL_DIRS-sized storage at /tmp or call
    ``_cleanup_drain_dirs`` between corpora."""
    import os as _os
    import tempfile

    spark = stream_df.sparkSession
    base = tempfile.mkdtemp(prefix=f"mover_drain_{name}_")
    _DRAIN_DIRS.append(base)
    out_dir = _os.path.join(base, "out")
    ckpt = _os.path.join(base, "ckpt")
    extra = None
    if input_bytes and input_bytes >= _rocksdb_threshold_bytes(spark):
        extra = {
            "spark.sql.streaming.stateStore.providerClass": (
                "org.apache.spark.sql.execution.streaming."
                "state.RocksDBStateStoreProvider"
            )
        }
    with _drain_confs(spark, input_bytes, extra):
        if output_mode == "append":
            q = (
                stream_df.writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
        else:
            def _overwrite(batch_df: DataFrame, _batch_id: int) -> None:
                batch_df.write.mode("overwrite").parquet(out_dir)

            q = (
                stream_df.writeStream.foreachBatch(_overwrite)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
    q.awaitTermination()
    if not _os.path.isdir(out_dir):  # zero micro-batches ran
        return spark.createDataFrame([], stream_df.schema)
    return spark.read.schema(stream_df.schema).parquet(out_dir)


def dedup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming deduplication via ``dropDuplicatesWithinWatermark``: the
    ingest-path twin of batch exact-dedup — duplicate events (same
    event_id) arriving within the watermark horizon are dropped with
    BOUNDED state (old keys age out with the watermark; a plain
    dropDuplicates on a stream would hold every key forever). This is the
    operator a training-data ingest runs in front of everything else:
    at-least-once sources (Kafka, file landing zones) re-deliver."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def interval_join_stream(
    spark: SparkSession,
    sf_dir: str,
    left_type: str = "purchase",
    right_type: str = "click",
    lookback: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream INNER join: each `left_type` event joins
    the same user's `right_type` events from the preceding `lookback`
    interval — the attribution-join shape (purchase <- recent clicks).

    Both sides carry watermarks and the join condition bounds event time on
    BOTH ends, so Spark can expire join state: without the time bounds a
    stream-stream join would buffer both streams forever. State per side ~
    (watermark + lookback) of data, independent of stream length."""
    lhs = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == left_type)
        .select(
            F.col("user_id").alias("l_user"),
            F.col("ts").alias("l_ts"),
            F.col("event_id").alias("l_event"),
        )
        .withWatermark("l_ts", watermark)
    )
    rhs = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
            F.col("event_id").alias("r_event"),
        )
        .withWatermark("r_ts", watermark)
    )
    return lhs.join(
        rhs,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("r_ts") <= F.col("l_ts")),
        "inner",
    )


def enrich_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: every event joins the (small, static)
    customer dimension — the standard ingest-enrichment shape. The static
    side broadcasts into each micro-batch as a hash join, so the operator
    is STATELESS: no watermark, no join state, nothing to expire. At scale
    the dimension re-broadcasts per batch (refresh it by restarting the
    query or swapping the underlying table); a big/mutable dimension would
    instead be a stream-stream join with watermarks (interval_join_stream).
    """
    from ..catalog import read_table

    ev = read_events_stream(spark, sf_dir)
    cust = read_table(spark, f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return ev.join(F.broadcast(cust), "user_id").select(
        "event_id", "event_type", "c_mktsegment", "value"
    )


def interval_left_join_stream(
    spark: SparkSession,
    sf_dir: str,
    left_type: str = "purchase",
    right_type: str = "click",
    lookback: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT OUTER watermarked stream-stream join: like
    ``interval_join_stream`` but purchases with NO qualifying click still
    emit (null-augmented) — the attribution shape that must also count the
    un-attributed. Outer rows can only emit once the watermark has passed
    their join window, so results are complete ONLY for left rows older
    than (max event time - watermark - lookback); callers must restrict to
    that horizon for batch-equal answers (the query wrapper does)."""
    lhs = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == left_type)
        .select(
            F.col("user_id").alias("l_user"),
            F.col("ts").alias("l_ts"),
            F.col("event_id").alias("l_event"),
        )
        .withWatermark("l_ts", watermark)
    )
    rhs = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
            F.col("event_id").alias("r_event"),
        )
        .withWatermark("r_ts", watermark)
    )
    return lhs.join(
        rhs,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("r_ts") <= F.col("l_ts")),
        "left_outer",
    )
