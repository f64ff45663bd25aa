"""Structured Streaming restatement of the reference's continuous mode
(SURVEY §2.7).

The reference's continuous mode is a polling loop — every `interval`
seconds fetch the latest slot and process `[latest-20-(n-1),
latest-20]` (``src/main.rs:123-148``; the loop body is a stub that only
logs). The idiomatic Spark expression is a micro-batch file/RPC stream:

- ST1 polling loop     → ``trigger(processingTime=...)`` /
  ``Trigger.AvailableNow`` for the bounded correctness runs here;
- the 20-slot finality lag → ``withWatermark`` (late-data margin);
- ST4 slot-range batches  → event-time ``window()`` aggregates;
- ST6 UPSERT idempotence  → ``dropDuplicatesWithinWatermark``;
- S6-S8 atomic batch load → ``foreachBatch`` + last-wins-by-key
  (:mod:`..operators.windows`), per-micro-batch atomicity from the
  sink's commit protocol.

Correctness queries run the stream over the ``events`` parquet with
``availableNow`` and land in a memory sink; the returned DataFrame is
the sink table (the driver's rows-only check collects it). Each query
uses a unique sink name + a temp checkpoint so re-invocation is safe.

Scale: at 100 TB the same code runs with a real trigger against a
partitioned landing zone; state-store size is bounded by the watermark
horizon, and `maxFilesPerTrigger` is the ST2 rate-limit analog.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from collections.abc import Iterator
from typing import Any

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

from ..catalog import fixture_bytes
from ..etl.load import (
    _atomic_swap,
    _exists,
    _restore_aside,
    _write_swap,
    upsert_parquet,
)
from ..scratch import scratch_dir

# Explicit schema — streaming file sources require one; never inference
# in production paths (SURVEY §1.3). The fixture's ts is parquet
# TIMESTAMP(MICROS) with no zone → TIMESTAMP_NTZ (naive micros), the
# same type the batch catalog reads and the DuckDB oracles compare
# against. (Earlier fixtures shipped TIMESTAMP(NANOS); reading THIS
# schema with a LongType + div-1000 conversion would silently collapse
# every event onto 1970 — schema drift fails loud via the NTZ type.)
_EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


# Multi-batch split threshold (VERDICT r9 item 5): below this the
# events file streams as ONE availableNow micro-batch (every driver
# fixture — sf0.001..0.1 — so oracles see single-batch semantics
# unchanged); at/above it (sf10 ≈ 120 MB, sf100 ≈ 1.2 GB) the source is
# re-landed as time-ordered slices so bounded runs take SEVERAL
# micro-batches and watermark eviction actually runs — without the
# split, RocksDB absorbed the full 100M-event horizon in one trigger
# and "state is bounded by the watermark" was never exercised at the
# decade. Tests lower it to split a fixture-sized source.
_SPLIT_THRESHOLD = 64 << 20


def _split_slices(size: int) -> int:
    return min(16, max(4, size // _SPLIT_THRESHOLD + 1))


def _split_events_source(spark: SparkSession, sf_dir: str) -> str:
    """Re-land events.parquet as time-DISJOINT, time-ORDERED slice
    files (the realistic landing-zone shape: one file per arrival
    interval). ``repartitionByRange(n, "ts")`` gives n disjoint ts
    ranges with balanced row counts in part-file-name order; mtimes
    are then forced strictly increasing in that order, because the
    file stream source admits files oldest-mtime-first — so each
    micro-batch is exactly one slice and cross-batch event-time
    disorder is ZERO. That invariant is what keeps results identical
    to the single-batch run: no row ever arrives below the watermark
    (numRowsDroppedByWatermark == 0, asserted in tests), state for
    passed horizons is evicted batch by batch.

    Materialized once per session run under scratch (shared by every
    split-reading stream in a bench session)."""
    import re
    import time

    src = os.path.join(sf_dir, "events.parquet")
    n = _split_slices(fixture_bytes(sf_dir, "events") or 0)
    tag = re.sub(r"\W+", "_", os.path.abspath(sf_dir)).strip("_")
    out = scratch_dir(spark, "stream_src", f"events_{tag}_{n}")
    if not os.path.isfile(os.path.join(out, "_SUCCESS")):
        (
            spark.read.schema(_EVENTS_RAW_SCHEMA)
            .parquet(src)
            .repartitionByRange(n, "ts")
            .write.mode("overwrite")
            .parquet(out)
        )
        parts = sorted(
            f
            for f in os.listdir(out)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        base = time.time() - 2 * len(parts)
        for j, f in enumerate(parts):
            os.utime(os.path.join(out, f), (base + j, base + j))
    return out


def events_stream(
    spark: SparkSession, sf_dir: str, split: bool = False
) -> DataFrame:
    """File-source stream over the events parquet — the batch-analog
    micro-batch source (reference ST1).

    ``split=True`` (the state-scaling append streams: dedup and the
    stream-stream joins) streams data-scale fixtures as multiple
    time-ordered micro-batches — see :func:`_split_events_source`.
    Update-mode stateful queries must NOT opt in: their oracle pins
    final-table equality with the batch twin, and a multi-batch run
    correctly emits one row PER UPDATE per key — right streaming
    semantics, different query."""
    # The file source requires a directory: stream the sf_dir and
    # glob-filter to the events file. Watermarks demand TIMESTAMP
    # (LTZ), not NTZ — cast under the pinned-UTC session, which maps
    # each naive micros value to the same instant the oracle sees.
    if split and (fixture_bytes(sf_dir, "events") or 0) >= _SPLIT_THRESHOLD:
        return (
            spark.readStream.schema(_EVENTS_RAW_SCHEMA)
            .option("maxFilesPerTrigger", 1)  # one time slice per batch
            .parquet(_split_events_source(spark, sf_dir))
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
    return (
        spark.readStream.schema(_EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # ST2 rate-limit analog
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )


def _stream_partitions(sf_dir: str) -> int:
    """State-store partition count sized to the SOURCE (the analog of
    sizing to |executors| at stream start on a real cluster — the
    count freezes into the checkpoint): 8 covers the single-file
    fixture scales, where more partitions are pure per-task overhead,
    growing toward the core count once the events file is large
    enough that state-op parallelism dominates (r6: the flat 8 capped
    sf10's 6M-event state stages at a quarter of the cores)."""
    size = fixture_bytes(sf_dir, "events")
    if size is None:
        return 8
    return min(32, max(8, int(size // (4 << 20))))


_PROVIDER_ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)
_PROVIDER_HEAP = (
    "org.apache.spark.sql.execution.streaming.state."
    "HDFSBackedStateStoreProvider"
)

#: Source sizes at or below this take the JVM-heap state store; above
#: it, RocksDB (a 64 MB source bounds state to tens of MB).
_HEAP_STATE_MAX_SRC_BYTES = 64 << 20


def _state_provider(
    sf_dir: str,
    *,
    source: str = "events",
    weight: int = 1,
) -> str:
    """State-store provider sized to the SOURCE (r15, guide §5.1).

    RocksDB is the production posture for state that scales with the
    data — the default HDFSBackedStateStoreProvider keeps EVERY key of
    every active state-store version in JVM heap, and an availableNow
    read of one large file is one trigger holding the whole horizon
    (r9: q_stream_dedup's 100M-key state OOMed the context at sf100).
    But RocksDB pays a fixed native-init + commit-churn cost per store
    instance per trigger that dwarfs fixture-scale state: A/B over the
    17-query stream family at sf0.1 (2 MB source, ≤10k state rows)
    measured 62.8 s RocksDB vs 43.0 s heap, same results. Size the
    choice by the same source-bytes signal as _stream_partitions: a
    ≤64 MB source bounds state to tens of MB — trivially heap-safe —
    while anything bigger keeps the RocksDB spill posture. Unreadable
    source ⇒ RocksDB (the safe side).

    ``source`` is the file the query actually STREAMS (ADVICE r15:
    q_stream_curate streams documents.parquet — sizing it by the
    events file reads the wrong signal). ``weight`` scales the sizing
    conservatively for state that can hold a MULTIPLE of the source
    within one availableNow trigger: stream-stream joins buffer both
    sides' horizons, so they pass weight=2 — halving the effective
    heap threshold."""
    size = fixture_bytes(sf_dir, source)
    if size is not None and size * weight <= _HEAP_STATE_MAX_SRC_BYTES:
        return _PROVIDER_HEAP
    return _PROVIDER_ROCKSDB


def _mkdtemp(spark: SparkSession, prefix: str) -> str:
    """A fresh sink/checkpoint dir under the run's scratch root, so it
    shares that root's lifecycle (see :mod:`..scratch`)."""
    parent = scratch_dir(spark, "stream")
    os.makedirs(parent, exist_ok=True)
    return tempfile.mkdtemp(prefix=prefix, dir=parent)


# Per-query progress stats from the LAST run in this process, keyed by
# runner name: micro-batch count, late rows dropped by the watermark,
# peak state rows, state rows evicted. This is how the multi-batch
# split proves eviction actually ran (VERDICT r9 item 5) — tests and
# the scale scripts read it right after draining the returned frame.
STREAM_STATS: dict[str, dict[str, int]] = {}


def _record_stream_stats(q, name: str) -> None:
    n_batches = dropped = removed = 0
    peak_state = 0
    try:
        for p in q.recentProgress:
            if p is None:
                continue
            if isinstance(p, str):  # some API versions expose JSON strings
                import json as _json

                p = _json.loads(p)
            if (p.get("numInputRows") or 0) > 0:
                n_batches += 1
            for so in p.get("stateOperators") or []:
                dropped += so.get("numRowsDroppedByWatermark") or 0
                removed += so.get("numRowsRemoved") or 0
                peak_state = max(peak_state, so.get("numRowsTotal") or 0)
    except Exception:
        return
    STREAM_STATS[name] = {
        "n_batches": n_batches,
        "rows_dropped_late": dropped,
        "state_rows_peak": peak_state,
        "state_rows_removed": removed,
    }


_AWAIT_TIMEOUT_S = 3600


def _await_bounded(q, name: str) -> None:
    """availableNow triggers are self-terminating; the timeout is a
    deadlock guard, not a budget — and it must FAIL LOUDLY. Returning
    after a silent timeout would let the caller read a PARTIALLY
    FILLED sink/path: a wrong answer, not an error (r9 audit while
    fixing the sf100 dedup-state OOM; the old 300 s guard sat above
    every sf10 stream but below a 100M-event state build)."""
    if not q.awaitTermination(_AWAIT_TIMEOUT_S):
        q.stop()
        raise RuntimeError(
            f"stream {name} still running after {_AWAIT_TIMEOUT_S} s — refusing "
            "to read a partial result"
        )
    _record_stream_stats(q, name)


def _run_to_memory(
    df: DataFrame,
    name: str,
    mode: str,
    partitions: int = 8,
    provider: str = _PROVIDER_ROCKSDB,
) -> DataFrame:
    """Run a stream to a memory sink with availableNow — bounded,
    deterministic, returns the sink table. ``complete`` for windowed
    aggregations (bounded input — emits every window even though the
    final watermark never passes the last one), ``append`` for
    row-level streams.

    The state-store partition count is sized by the CALLER via
    ``partitions`` (see _stream_partitions): a stateful query creates
    one state-store instance per shuffle partition per trigger, so 32
    partitions over a small single-file source is pure per-task
    overhead (~2x wall-clock measured at sf0.1), while 8 starves a
    6M-event sf10 state stage of cores. On a real cluster the same
    knob is sized to |executors| at stream START (it is frozen into
    the checkpoint, deliberately — state cannot be re-sharded by
    config after the fact).

    State store ``provider`` is likewise caller-sized (see
    :func:`_state_provider` for the RocksDB-vs-heap rationale); the
    conf is captured per-query at start(), so setting it here covers
    every catalog stream without touching a global."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", provider
    )
    try:
        sink = f"{name}_{uuid.uuid4().hex[:8]}"
        q = (
            df.writeStream.format("memory")
            .queryName(sink)
            .outputMode(mode)
            .option("checkpointLocation", _mkdtemp(spark, f"ckpt_{name}_"))
            .trigger(availableNow=True)
            .start()
        )
        _await_bounded(q, name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(sink)


def _read_sink_or_empty(spark: SparkSession, out: str, schema) -> DataFrame:
    """Read a file-sink path back; a legitimately EMPTY stream result
    commits no data files, where a bare spark.read.parquet dies on
    schema inference (ADVICE r9) — the memory-sink runners returned an
    empty table with schema, so the file-sink runners must too. The
    watermark is gone by now; strip event-time metadata so downstream
    unions compare equal either way."""
    import glob as _glob

    has_data = any(
        not os.path.basename(f).startswith(("_", "."))
        for f in _glob.glob(os.path.join(out, "*"))
    )
    if has_data:
        return spark.read.parquet(out)
    # Rebuild the fallback schema as spark.read.parquet would return
    # it — all-nullable, no field metadata (ADVICE r10: passing the
    # streaming schema verbatim kept watermark metadata and original
    # nullability, so empty vs non-empty runs of the SAME query
    # yielded different schemas).
    from pyspark.sql.types import StructField, StructType

    plain = StructType(
        [StructField(f.name, f.dataType, True) for f in schema]
    )
    return spark.createDataFrame([], plain)


def _run_to_parquet(
    df: DataFrame,
    name: str,
    partitions: int = 8,
    provider: str = _PROVIDER_ROCKSDB,
) -> DataFrame:
    """Run an append-mode stream to a parquet FILE sink and return a
    scan of the result path — for the streams whose output is
    O(input). The memory sink variant (:func:`_run_to_memory`)
    materializes the whole result on the driver heap, which is exactly
    wrong for row-scale output (sf100: q_stream_dedup's ~100M-row
    result OOMed the context through the sink AFTER RocksDB had fixed
    the state store). Same shuffle-partition sizing and RocksDB state
    policy as the memory runner."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", provider
    )
    try:
        out = _mkdtemp(spark, f"sink_{name}_") + "/out"
        q = (
            df.writeStream.format("parquet")
            .option("path", out)
            .option(
                "checkpointLocation", _mkdtemp(spark, f"ckpt_{name}_")
            )
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_bounded(q, name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return _read_sink_or_empty(spark, out, df.schema)


def _run_complete_to_parquet(
    df: DataFrame,
    name: str,
    partitions: int = 8,
    provider: str = _PROVIDER_ROCKSDB,
) -> DataFrame:
    """Complete-mode runner for aggregates whose RESULT table is
    data-scale (sf100: q_stream_session's ~tens-of-millions of session
    rows overflowed spark.driver.maxResultSize through the memory
    sink). The file sink rejects complete mode, so each trigger's full
    result snapshot is written distributed via foreachBatch +
    overwrite — the last trigger leaves the final table; no row ever
    lands on the driver."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", provider
    )
    try:
        out = _mkdtemp(spark, f"sink_{name}_") + "/out"

        def write_snapshot(batch_df: DataFrame, _bid: int) -> None:
            batch_df.write.mode("overwrite").parquet(out)

        q = (
            df.writeStream.foreachBatch(write_snapshot)
            .option(
                "checkpointLocation", _mkdtemp(spark, f"ckpt_{name}_")
            )
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        _await_bounded(q, name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return _read_sink_or_empty(spark, out, df.schema)


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1/ST4: 1-hour tumbling event-time windows with a watermark
    (the 20-slot finality lag analog)."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("hour"), "cnt", "sum_value")
    )
    return _run_to_memory(agg, "stream_tumbling", "complete", _stream_partitions(sf_dir), _state_provider(sf_dir))


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6: in-stream duplicate suppression within the watermark —
    the streaming half of UPSERT idempotence.

    Sink choice (r9, second sf100 lesson from the same query): this is
    the one catalog stream whose OUTPUT is O(input) — a memory sink
    materializes every deduped row on the DRIVER heap, which is what
    actually OOMed sf100's 100M-event run once RocksDB had fixed the
    state side. Row-scale stream output lands in a parquet FILE sink
    (the production shape: dedup feeds a table, not a collect); the
    returned frame is a scan of that path. Aggregate-shaped streams
    keep the memory sink — their results are bounded by construction."""
    ev = events_stream(spark, sf_dir, split=True).withWatermark(
        "ts", "1 hour"
    )
    dedup = ev.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id", "user_id", "event_type"
    )
    return _run_to_parquet(
        dedup, "stream_dedup", _stream_partitions(sf_dir),
        _state_provider(sf_dir)
    )


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7: 1-hour windows sliding every 30 minutes."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    agg = (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("w_start"), F.col("w.end").alias("w_end"), "cnt")
    )
    return _run_to_memory(agg, "stream_sliding", "complete", _stream_partitions(sf_dir), _state_provider(sf_dir))


def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: the
    reference's account-activity rollup (A4,
    ``migrations/20251023000004_create_accounts.sql:4-25`` — per-address
    first/last seen, total + conditional counts) maintained
    incrementally as per-user state across micro-batches.

    This is the escape hatch for aggregations Spark's built-ins can't
    express (arbitrary Python state transitions); state is Arrow-batched
    per group, partitioned by the grouping key — at 100 TB the state
    store shards across executors and is bounded by |users|, not
    |events|."""
    ev = events_stream(spark, sf_dir)

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, total, n_purch, first_ts, last_ts = (
            state.get if state.exists else (0, 0.0, 0, None, None)
        )
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            n_purch += int((pdf["event_type"] == "purchase").sum())
            lo, hi = pdf["ts"].min(), pdf["ts"].max()
            first_ts = lo if first_ts is None else min(first_ts, lo)
            last_ts = hi if last_ts is None else max(last_ts, hi)
        state.update((n, total, n_purch, first_ts, last_ts))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(total, 2)],
                "n_purchases": [n_purch],
                "first_ts": [first_ts],
                "last_ts": [last_ts],
            }
        )

    rolled = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, n_events long, total_value double, "
            "n_purchases long, first_ts timestamp, last_ts timestamp"
        ),
        stateStructType=(
            "n long, total double, np long, first_ts timestamp, last_ts timestamp"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(rolled, "stream_stateful", "update", _stream_partitions(sf_dir), _state_provider(sf_dir))


def q_stream_transform_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same per-user rollup on Spark 4's `transformWithState`
    API — the successor to ``applyInPandasWithState`` (q_stream_stateful)
    with typed composable state (ValueState here; ListState/MapState/
    timers available), per-key Arrow batches, and a RocksDB-backed
    state store (required by the API; also the store you'd run at
    100 TB — state spills to disk instead of capping at executor
    heap).

    The fixture source is a single parquet file → exactly one
    micro-batch → the Update-mode emission per key IS the final
    rollup, so the memory-sink table equals the batch aggregate and
    gets a full value oracle (stronger than rows-only).

    ENVIRONMENT GATE: transformWithState's Python↔JVM state protocol
    is protobuf-framed (`pyspark/sql/streaming/proto/StateMessage_pb2`
    imports `google.protobuf`); in containers without the protobuf
    wheel the state driver worker cannot start. Where protobuf is
    missing this falls back to the SAME rollup on
    ``applyInPandasWithState`` — identical semantics and oracle, so
    the catalog entry stays meaningful everywhere while the TWS code
    path runs wherever the dependency exists."""
    try:
        import google.protobuf  # noqa: F401  (TWS state-server wire format)

        _tws_available = True
    except ImportError:
        _tws_available = False

    if not _tws_available:
        ev = events_stream(spark, sf_dir)

        def update(
            key: tuple[Any, ...],
            pdfs: Iterator[pd.DataFrame],
            state: GroupState,
        ) -> Iterator[pd.DataFrame]:
            n, total = state.get if state.exists else (0, 0.0)
            for pdf in pdfs:
                n += len(pdf)
                total += float(pdf["value"].sum())
            state.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 2)],
                }
            )

        rolled = ev.groupBy("user_id").applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, total_value double",
            stateStructType="n long, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        return _run_to_memory(rolled, "stream_tws", "update", _stream_partitions(sf_dir))

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserRollup(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "n long, total double")

        def handleInputRows(self, key, rows, timerValues):
            n, total = self._agg.get() if self._agg.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._agg.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 2)],
                }
            )

        def close(self) -> None:
            pass

    ev = events_stream(spark, sf_dir).select("user_id", "value")
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rolled = ev.groupBy("user_id").transformWithStateInPandas(
            UserRollup(),
            outputStructType="user_id long, n_events long, total_value double",
            outputMode="Update",
            timeMode="None",
        )
        return _run_to_memory(rolled, "stream_tws", "update", _stream_partitions(sf_dir))
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against a static
    dimension (per-user lifetime profile read from batch storage) — the
    reference's registry-lookup J1 at streaming time.

    Scale: the static side is re-read per micro-batch (picking up dim
    updates) and broadcast when small; no state store is involved, so
    this enrichment costs nothing in checkpoint size. The batch twin
    is q_broadcast_join."""
    from pyspark.sql import functions as _F

    from ..catalog import table

    profile = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(_F.count("*").alias("lifetime_events"))
    )
    ev = events_stream(spark, sf_dir)
    # No broadcast HINT (r9 sf100 fix): the per-user profile is
    # users-scale — forcing broadcast serialized a ~10M-row dim on the
    # driver at sf100 and OOMed the context. Unhinted, Catalyst
    # broadcasts when the side is under the threshold (every small
    # fixture) and shuffles otherwise — "broadcast when small" is a
    # planner decision, not a query author's promise. Output is
    # O(stream), so it lands in a parquet sink, not driver memory.
    joined = ev.join(profile, "user_id", "left").select(
        "event_id", "user_id", "event_type", "lifetime_events"
    )
    return _run_to_parquet(joined, "stream_static_join", _stream_partitions(sf_dir), _state_provider(sf_dir))


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time bounds: purchases
    matched to a click by the same user within the preceding 30
    minutes (the click→conversion funnel).

    Both sides are independent file streams with 1-hour watermarks;
    the BETWEEN constraint lets Spark bound the join state — click
    state older than watermark + 30 min is evicted, so state size
    tracks the time window, not the stream length. This is the one
    join family the reference's batch loop cannot express at all
    (its continuous mode re-queries Postgres); the batch twin (same
    predicate as a self-join) is pinned row-for-row in
    tests/test_streaming.py."""
    clicks = (
        events_stream(spark, sf_dir, split=True)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    buys = (
        events_stream(spark, sf_dir, split=True)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
            "value",
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        buys,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts "
            "AND p_ts <= c_ts + interval 30 minutes"
        ),
    ).select("click_id", "purchase_id", "c_user", "value")
    # Output is one row per funnel match — data-scale: file sink.
    return _run_to_parquet(joined, "stream_stream_join", _stream_partitions(sf_dir), _state_provider(sf_dir, weight=2))


def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-ranked leaderboard: top-3 users by total purchase
    value, recomputed per micro-batch (complete output mode — the one
    mode that permits sorting, because the full aggregate state is
    re-emitted each trigger).

    Scale: state is one row per user (the grouped aggregate); the
    sort runs over the REDUCED aggregate, never the stream. The
    bounded-run result is pinned to the batch groupBy + top-k in
    tests/test_streaming.py."""
    ev = events_stream(spark, sf_dir).where(
        F.col("event_type") == "purchase"
    )
    ranked = (
        ev.groupBy("user_id")
        .agg(
            F.round(F.sum("value"), 2).alias("total_value"),
            F.count("*").alias("n_purchases"),
        )
        .orderBy(F.col("total_value").desc(), F.col("user_id").asc())
        .limit(3)
    )
    return _run_to_memory(ranked, "stream_topk", "complete", _stream_partitions(sf_dir), _state_provider(sf_dir))


def q_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join with event-time bounds: every
    click, null-extended when no purchase by the same user follows
    within 30 minutes — the unconverted-funnel view of
    :func:`q_stream_stream_join`.

    Outer-join mechanics under watermarks: a click can only be
    null-emitted once the watermark proves no matching purchase can
    still arrive (c_ts + 30 min < watermark), so unmatched results
    trail matched ones by up to watermark delay + window. In a BOUNDED
    availableNow run the final no-data micro-batch advances the
    watermark to its terminal value and flushes eligible state, so the
    emission set IS deterministic (promoted to a full oracle in round
    4): matched rows = the inner join; null-extended rows = clicks
    with no in-window purchase whose c_ts + 30 min lies strictly
    before the final watermark, where the final watermark is
    min(max click ts, max purchase ts) FLOORED TO MILLISECONDS − 1 h
    (Spark's EventTimeStatsAccum tracks event time in ms, so the
    oracle floors epoch_us/1000 before subtracting the delay). Clicks
    in the last watermark+window tail stay in state at shutdown and
    are never null-emitted — inherent to the semantics, mirrored by
    the oracle's watermark predicate."""
    clicks = (
        events_stream(spark, sf_dir, split=True)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    buys = (
        events_stream(spark, sf_dir, split=True)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
            "value",
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        buys,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts "
            "AND p_ts <= c_ts + interval 30 minutes"
        ),
        "leftOuter",
    ).select("click_id", "c_user", "c_ts", "purchase_id", "value")
    # Output is one row per click — data-scale: file sink.
    return _run_to_parquet(joined, "stream_stream_left_join", _stream_partitions(sf_dir), _state_provider(sf_dir, weight=2))


def stream_upsert(
    stream_df: DataFrame,
    path: str,
    keys: list[str],
    order: list[str],
    checkpoint: str,
):
    """Streaming sink: foreachBatch → keyed upsert (reference S8's
    per-batch atomic transaction; exactly-once-by-key across retries
    because the upsert is idempotent). The caller owns ``checkpoint``:
    reusing it resumes from the committed offsets."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        upsert_parquet(batch_df.sparkSession, batch_df, path, keys, order)

    writer = stream_df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    return writer.trigger(availableNow=True).start()


# merge_aggregate's replay ledger: the id of the last merged batch,
# stored as a column of the aggregate table itself.
_BATCH_ID = "_batch_id"


def merge_aggregate(
    spark: SparkSession,
    partials: DataFrame,
    path: str,
    keys: list[str],
    batch_id: int | None = None,
) -> int:
    """Algebraic aggregate maintenance: merge a batch's per-key
    PARTIAL aggregates (columns besides `keys` must be sum-mergeable —
    counts and sums, the algebraic class) into the stored aggregate
    table by key-wise addition, write-temp-then-swap.

    This is the incremental-materialized-view half of the sink family:
    `upsert_parquet` keeps the newest ROW per key; this keeps the
    running AGGREGATE per key, so a replayed batch is NOT idempotent
    by itself. foreachBatch delivery is AT-LEAST-once (a crash after
    the table swap but before the checkpoint commit replays the
    batch), so callers pass Spark's ``batch_id`` and every row of the
    table carries the last merged id in a ``_batch_id`` column —
    written by the same swap as the sums, so the merge and its ledger
    commit in one atomic rename. A replayed ``batch_id <= stored`` is
    skipped: the standard foreachBatch idempotence pattern. At 100 TB
    the stored side is |keys| rows, not |events| — the merge cost is
    bounded by key cardinality."""
    _restore_aside(path)
    if _exists(path):
        stored = spark.read.parquet(path)
        if batch_id is not None:
            last, n = stored.agg(F.max(_BATCH_ID), F.count(F.lit(1))).head()
            if last is not None and batch_id <= last:
                return n
        merged = stored.drop(_BATCH_ID).unionByName(partials)
    else:
        merged = partials
    value_cols = [c for c in partials.columns if c not in keys]
    rolled = merged.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in value_cols],
        F.lit(batch_id).cast("long").alias(_BATCH_ID),
    )
    return _write_swap(rolled, path)


def q_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full S6-S8 sink path at streaming time: events stream →
    ``foreachBatch`` → keyed last-wins UPSERT into a parquet table
    (:func:`stream_upsert`); returns the post-stream table —
    the latest event per user, exactly ``q_last_wins_window``'s batch
    answer (equality pinned in tests/test_streaming.py).

    Each micro-batch merge is write-temp-then-swap (readers see old or
    new, never partial — the reference's per-batch Postgres
    transaction, src/etl/load.rs:161-287) and idempotent by key, so a
    replayed batch after failure converges to the same table
    (exactly-once-by-key, ST6)."""
    import shutil

    ev = events_stream(spark, sf_dir).select(
        "user_id", "event_id", "event_type", "value", "ts"
    )
    path = _mkdtemp(spark, "stream_upsert_") + "/latest_by_user"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = stream_upsert(
            ev, path, keys=["user_id"], order=["ts", "event_id"],
            checkpoint=_mkdtemp(spark, "ckpt_upsert_"),
        )
        _await_bounded(q, "stream_job")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    out = spark.read.parquet(path).select(
        "user_id", "event_id", "event_type", "value"
    )
    # materialize before the temp dir can be cleaned up
    out = out.cache()
    out.count()
    shutil.rmtree(os.path.dirname(path), ignore_errors=True)
    return out


def q_stream_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance at streaming time:
    each micro-batch reduces to per-event-type PARTIAL aggregates
    (count, sum) inside the batch, then ``foreachBatch`` merges them
    into the stored aggregate table by key-wise addition
    (:func:`merge_aggregate`) — the algebraic-aggregate sink,
    complementing the last-wins row UPSERT (q_stream_upsert).

    The shuffle per batch carries |event_type| partial rows, not
    |events| — at 100 TB the maintained view costs O(keys) per batch
    regardless of stream volume. foreachBatch is at-least-once, so
    ``batch_id`` is passed through to ``merge_aggregate``, which
    persists the last merged id atomically with the table and skips
    replays — exactly-once even for a crash between the table swap
    and the checkpoint commit. The final table must equal the batch
    aggregate over the whole fixture (the oracle); multi-batch merge
    arithmetic and replay-skip are unit-tested in
    tests/test_streaming.py."""
    import shutil

    ev = events_stream(spark, sf_dir).select("event_type", "value")
    path = _mkdtemp(spark, "stream_mergeagg_") + "/agg_by_type"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        partials = batch_df.groupBy("event_type").agg(
            F.count("*").alias("n"), F.sum("value").alias("sum_value")
        )
        merge_aggregate(
            batch_df.sparkSession, partials, path, ["event_type"],
            batch_id=batch_id,
        )

    try:
        q = (
            ev.writeStream.foreachBatch(write_batch)
            .option(
                "checkpointLocation", _mkdtemp(spark, "ckpt_mergeagg_")
            )
            .trigger(availableNow=True)
            .start()
        )
        _await_bounded(q, "stream_job")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    out = spark.read.parquet(path).select(
        "event_type", "n", (F.round(F.col("sum_value"), 2) + 0.0).alias("sum_value")
    )
    out = out.cache()
    out.count()
    shutil.rmtree(os.path.dirname(path), ignore_errors=True)
    return out


def q_stream_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply — the streaming twin of q_cdc_apply: an
    I/U/D op log (every 11th event_id is a DELETE) streams through
    ``foreachBatch`` into the keyed last-wins upsert sink WITH the op
    column kept as a TOMBSTONE. Deletes must ride through the merge as
    rows, not be dropped per batch: if a batch filtered its deletes
    out, a replayed earlier batch could resurrect a deleted key —
    keeping the tombstone makes every merge idempotent and ordered by
    (ts, event_id), so replay converges (ST6). The snapshot read at
    the end filters tombstones out — exactly MERGE INTO ... WHEN
    MATCHED AND op='D' THEN DELETE semantics, expressed as last-wins +
    filter.

    Scale: per batch the shuffle carries the batch's keys only; the
    stored table is O(live keys + tombstones), and tombstones compact
    away whenever a retention boundary passes (the same GC contract
    Delta/Iceberg MERGE tables have)."""
    import shutil

    ev = events_stream(spark, sf_dir).select(
        F.col("user_id").alias("key"),
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_id") % 11 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    path = _mkdtemp(spark, "stream_cdc_") + "/cdc_snapshot"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = stream_upsert(
            ev, path, keys=["key"], order=["ts", "event_id"],
            checkpoint=_mkdtemp(spark, "ckpt_cdc_"),
        )
        _await_bounded(q, "stream_job")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    out = (
        spark.read.parquet(path)
        .where(F.col("op") != "D")
        .select(
            "key",
            F.col("event_id").alias("last_event_id"),
            F.round(F.col("value") + F.lit(1e-9), 2).alias("current_value"),
        )
    )
    out = out.cache()
    out.count()
    shutil.rmtree(os.path.dirname(path), ignore_errors=True)
    return out


def q_stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data DROP accounting — the watermark behavior none of the
    single-batch streams can exercise, pinned to Spark's ACTUAL state
    lifecycle (measured here, not the folklore version): a late row is
    NOT dropped merely because its event time is behind the watermark
    — it still merges as long as its window's state row exists; it is
    dropped only once that window was EVICTED in a prior batch. So
    the corpus streams as THREE micro-batches (mtime-pinned order):
    (0) 90% on-time rows; (1) half the stragglers — these land behind
    the watermark but BEFORE eviction runs, so they merge (Spark
    reported numRowsDroppedByWatermark=0 for this batch) and the
    batch's end-of-batch eviction emits every window closed under
    wm01 = ms-floored max(batch0∪batch1 ts) − 2 days; (2) the other
    half — now their windows are gone and they are dropped
    (numRowsDroppedByWatermark=27 in the probe), except rows whose
    window is still open. The availableNow terminal flush then emits
    anything closed by the final watermark.

    Every quantity is deterministic, and the oracle reproduces the
    exact lifecycle arithmetic (both watermarks, the merge-vs-drop
    split, the emission horizon). At 100 TB this is the dashboard
    that tells you what your watermark delay actually costs in
    dropped events — and the semantics note ("late" ≠ dropped until
    eviction) is the difference between a correct and a
    plausible-but-wrong reconciliation job."""
    import glob
    import shutil

    from ..catalog import table as _table

    ev = _table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    root = _mkdtemp(spark, "stream_late_")
    slices = {"a_ontime": 1_000_000_000, "b_merge": 1_000_000_100,
              "c_dropped": 1_000_000_200}
    # ONE partitioned write instead of a filtered write job per slice
    # (r16, guide §2.4/§6): the slice predicates key on event_id % n —
    # not pushable — so the old per-slice loop scanned the full events
    # table three times. The slice column and the empty-slice fallback
    # both derive from ``preds``, so a NULL event_id (which matches no
    # predicate) is excluded from both. Each slice lands in exactly one
    # task via repartition, and its one staged part file is renamed to
    # the mtime-ordered name the file stream source admits batch by
    # batch. Rows per file are identical to the filtered writes (row
    # order within a file may differ — irrelevant to a batch-at-a-time
    # windowed aggregate).
    eid = F.col("event_id")
    preds = {
        "a_ontime": eid % 10 != 0,
        "b_merge": (eid % 10 == 0) & (eid % 20 == 0),
        "c_dropped": (eid % 10 == 0) & (eid % 20 != 0),
    }
    slice_col = F.coalesce(*(F.when(p, F.lit(n)) for n, p in preds.items()))
    stage = os.path.join(root, "_stage")
    (
        ev.withColumn("slice", slice_col)
        .where(F.col("slice").isNotNull())
        .repartition(len(slices), "slice")
        .write.partitionBy("slice")
        .parquet(stage)
    )
    for name, mtime in slices.items():
        staged = os.path.join(stage, f"slice={name}")
        dst = os.path.join(root, f"{name}_events.parquet")
        if os.path.isdir(staged):
            hits = glob.glob(os.path.join(staged, "part-*.parquet"))
            if len(hits) != 1:
                raise RuntimeError(
                    f"staged slice {name} holds {len(hits)} part files, "
                    "expected exactly 1"
                )
            shutil.move(hits[0], dst)
        else:
            # An empty slice writes no staged dir; the stream source
            # still needs the file so each micro-batch keeps its slot.
            d = os.path.join(stage, "_empty_" + name)
            ev.where(preds[name]).coalesce(1).write.parquet(d)
            shutil.move(glob.glob(os.path.join(d, "part-*.parquet"))[0], dst)
        os.utime(dst, (mtime, mtime))
    shutil.rmtree(stage)

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long,"
            " event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .option("pathGlobFilter", "*_events.parquet")
        .parquet(root)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "2 days")
    )
    agg = (
        stream.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("value") + F.lit(1e-9), 2).alias("sum_value"),
        )
        .select(F.col("w.start").alias("day"), "cnt", "sum_value")
    )
    out = _run_to_memory(agg, "stream_late", "append", _stream_partitions(sf_dir), _state_provider(sf_dir))
    out = out.cache()
    out.count()
    shutil.rmtree(root, ignore_errors=True)
    return out


def q_stream_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming QUANTILE maintenance — the streaming twin of
    q_quantile_merge and the third member of the incremental-sink
    family (rows → q_stream_upsert, algebraic aggregates →
    q_stream_incremental_agg, sketches → q_stream_hll, quantiles →
    here): each micro-batch reduces to (event_type, bin) counts over
    the deterministic 64-bin equi-width histogram, `foreachBatch`
    merges them into the stored histogram by keyed addition
    (``merge_aggregate`` — bin counts are sum-mergeable, so the
    batch_id replay ledger gives exactly-once), and p50/p90 come from
    a cumulative walk over the final 64×|types| table. Per batch the
    shuffle carries ≤ 64·|types| partial rows regardless of stream
    volume. Deterministic end to end ⇒ full hash oracle (the one-shot
    DuckDB recomputation — merge associativity is the contract)."""
    import shutil

    from ..operators.analytics import QM_BINS, QM_RANGE, _qm_bin

    ev = events_stream(spark, sf_dir).select(
        "event_type", _qm_bin(F.col("value")).alias("bin")
    )
    path = _mkdtemp(spark, "stream_quantile_") + "/hist_by_type"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        partials = batch_df.groupBy("event_type", "bin").agg(
            F.count("*").alias("cnt")
        )
        merge_aggregate(
            batch_df.sparkSession,
            partials,
            path,
            ["event_type", "bin"],
            batch_id=batch_id,
        )

    try:
        q = (
            ev.writeStream.foreachBatch(write_batch)
            .option(
                "checkpointLocation", _mkdtemp(spark, "ckpt_squant_")
            )
            .trigger(availableNow=True)
            .start()
        )
        _await_bounded(q, "stream_job")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    from pyspark.sql import Window

    hist = spark.read.parquet(path)
    w = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "event_type",
        "bin",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("event_type")).alias("n"),
    )
    width = QM_RANGE / QM_BINS
    out = cum.groupBy("event_type", "n").agg(
        F.min(
            F.when(F.col("cum") >= F.ceil(F.col("n") * 0.5), F.col("bin"))
        ).alias("p50_bin"),
        F.min(
            F.when(F.col("cum") >= F.ceil(F.col("n") * 0.9), F.col("bin"))
        ).alias("p90_bin"),
    ).select(
        "event_type",
        F.col("n").alias("n_events"),
        "p50_bin",
        "p90_bin",
        F.round((F.col("p50_bin") + 0.5) * width + 1e-9, 4).alias("p50_est"),
        F.round((F.col("p90_bin") + 0.5) * width + 1e-9, 4).alias("p90_est"),
    )
    out = out.cache()
    out.count()
    shutil.rmtree(os.path.dirname(path), ignore_errors=True)
    return out


def q_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sketch maintenance: each micro-batch reduces to one
    Datasketches HLL state per event type, `foreachBatch` unions it
    into the stored sketch table — the SKETCH twin of
    q_stream_incremental_agg's algebraic (count, sum) merge, and the
    streaming form of q_hll_merge's daily-rollup: a distinct-users
    view maintained at O(keys × sketch-size) per batch regardless of
    stream volume, with no raw-key shuffle ever.

    Replay safety comes FREE here: HLL register state is the max of
    item hashes, so re-unioning a replayed batch's sketch is a no-op
    (set-union idempotence) — no batch_id ledger needed, unlike the
    additive merge. The swap reuses the crash-safe rename-aside
    helper. Final answer = estimates from the stored sketches vs the
    exact distincts, emitted under the deterministic within-bound
    contract (HLL state is order- and partitioning-independent, so
    the booleans are stable)."""
    import shutil

    ev = events_stream(spark, sf_dir).select("event_type", "user_id")
    root = _mkdtemp(spark, "stream_hll_")
    path = root + "/hll_by_type"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        sk = batch_df.groupBy("event_type").agg(
            F.hll_sketch_agg("user_id", F.lit(14)).alias("sk")
        )
        if os.path.isdir(path):
            sk = (
                sp.read.parquet(path)
                .select("event_type", "sk")
                .unionByName(sk)
                .groupBy("event_type")
                .agg(F.hll_union_agg("sk").alias("sk"))
            )
        tmp = path + ".tmp"
        sk.coalesce(1).write.mode("overwrite").parquet(tmp)
        _atomic_swap(path, tmp)

    try:
        q = (
            ev.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", _mkdtemp(spark, "ckpt_hll_"))
            .trigger(availableNow=True)
            .start()
        )
        _await_bounded(q, "stream_job")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    from ..catalog import table as _table

    exact = (
        _table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    est = spark.read.parquet(path).select(
        "event_type", F.hll_sketch_estimate("sk").alias("est")
    )
    out = (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("est").cast("double") - F.col("exact_users").cast("double"))
                / F.col("exact_users").cast("double")
                <= F.lit(0.02)
            ).alias("within_bound"),
        )
        .cache()
    )
    out.count()
    shutil.rmtree(root, ignore_errors=True)
    return out


_DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def q_stream_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus curation: the batch q_corpus_curate pipeline's
    quality-gate + exact-dedup stages as a continuous ingest job —
    documents arriving on a stream are scored, near-duplicate text is
    suppressed within the watermark horizon, survivors are emitted
    with token accounting.

    Event time is synthesized from doc_id (the fixture corpus has no
    arrival timestamp; a real ingest would carry one). Dedup keys on
    the text digest, not the text — the state store holds 16-byte
    hashes instead of documents, so state size is |distinct docs seen
    within the watermark| × 16 B no matter how large the documents
    are. At 100 TB the same job curates a landing zone continuously;
    the batch twin's LSH near-dup stage stays a periodic batch job
    (all-pairs banding needs the full corpus, not a stream prefix).

    FULL oracle since round 4 — by projection design: which duplicate
    survives dropDuplicatesWithinWatermark is arrival-order-dependent
    (shuffle-iterator order), so the query emits ONLY columns
    functionally determined by the text itself (digest, quality,
    token count) — identical for every member of a dup group, making
    the output winner-invariant and value-hash-checkable. Consumers
    needing a canonical doc_id per group use the batch pipeline's
    deterministic lowest-id rule (q_corpus_curate)."""
    from ..functions.text import quality_score, token_count

    raw = (
        spark.readStream.schema(_DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    curated = (
        # +86400: a row at exactly epoch 0 ties the stream's initial
        # watermark and is discarded as late — shift the synthetic
        # clock one day so doc_id=0 survives.
        raw.withColumn("ts", F.timestamp_seconds(F.col("doc_id") + 86400))
        .withWatermark("ts", "1 hour")
        .withColumn("quality", quality_score("text"))
        .where(F.col("quality") >= 0.5)
        .withColumn("text_hash", F.md5("text"))
        .dropDuplicatesWithinWatermark(["text_hash"])
        .select(
            "text_hash",
            "quality",
            token_count("text").alias("n_tokens"),
        )
    )
    return _run_to_memory(curated, "stream_curate", "append", _stream_partitions(sf_dir), _state_provider(sf_dir, source="documents"))


def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7: per-user session windows with a 30-minute gap."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    agg = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("cnt"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "cnt",
        )
    )
    # Result table is data-scale (one row per session): complete-mode
    # snapshot written distributed, never collected (r9 sf100 fix).
    return _run_complete_to_parquet(agg, "stream_session", _stream_partitions(sf_dir), _state_provider(sf_dir))


# ---------------------------------------------------------------------------
# DuckDB oracles for the DETERMINISTIC bounded streams. A bounded
# availableNow run that drains the whole source and emits either
# complete-mode state or watermark-independent appends is exactly its
# batch twin, so the batch oracle applies verbatim. Streams whose
# bounded output depends on micro-batch boundaries or watermark
# tail-holdback (left join, stateful, curate) stay rows-only.
# ---------------------------------------------------------------------------

from ..operators import windows as _batch_windows  # noqa: E402

from ..functions.text import quality_sql as _quality_sql  # noqa: E402

ORACLE: dict[str, str] = {
    "q_stream_curate": f"""
        -- winner-invariant projection: every column is a function of
        -- the TEXT, so whichever dup survives, the row is identical
        SELECT DISTINCT md5(text) AS text_hash, quality,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM ({_quality_sql('documents')})
        WHERE quality >= 0.5
    """,
    "q_stream_late_data": """
        -- Spark's measured state lifecycle: batch-1 stragglers MERGE
        -- (state still live), eviction at end of batch 1 closes
        -- windows under wm01 = ms-floored max(batch0 u batch1) - 2d,
        -- batch-2 stragglers into those evicted windows DROP, and the
        -- terminal flush emits windows closed under the final
        -- watermark (ms-floored global max - 2d)
        WITH a AS (
          SELECT ts, value FROM events WHERE event_id % 10 <> 0
        ), b AS (
          SELECT ts, value FROM events
          WHERE event_id % 20 = 0
        ), c AS (
          SELECT ts, value FROM events
          WHERE event_id % 10 = 0 AND event_id % 20 <> 0
        ), wm01 AS (
          SELECT make_timestamp(epoch_ms(max(ts)) * 1000)
                 - INTERVAL 2 DAY AS w
          FROM (SELECT ts FROM a UNION ALL SELECT ts FROM b)
        ), wmf AS (
          SELECT make_timestamp(epoch_ms(max(ts)) * 1000)
                 - INTERVAL 2 DAY AS w
          FROM events
        ), counted AS (
          SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, value
          FROM a
          UNION ALL
          SELECT CAST(date_trunc('day', ts) AS TIMESTAMP), value FROM b
          UNION ALL
          SELECT CAST(date_trunc('day', ts) AS TIMESTAMP), value
          FROM c, wm01
          WHERE date_trunc('day', ts) + INTERVAL 1 DAY > wm01.w
        )
        SELECT day, count(*) AS cnt,
               round(sum(value) + 1e-9, 2) AS sum_value
        FROM counted, wmf
        WHERE day + INTERVAL 1 DAY <= wmf.w
        GROUP BY day
    """,
    "q_stream_quantile": """
        WITH b AS (
          SELECT event_type,
                 CAST(least(greatest(floor(value * 64.0 / 1000.0), 0), 63)
                      AS INTEGER) AS bin
          FROM events
        ), cnt AS (
          SELECT event_type, bin, count(*) AS c
          FROM b GROUP BY event_type, bin
        ), cum AS (
          SELECT event_type, bin,
                 sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
                 sum(c) OVER (PARTITION BY event_type) AS n
          FROM cnt
        )
        SELECT event_type, CAST(n AS BIGINT) AS n_events,
               min(CASE WHEN cum >= ceil(n * 0.5) THEN bin END) AS p50_bin,
               min(CASE WHEN cum >= ceil(n * 0.9) THEN bin END) AS p90_bin,
               round((min(CASE WHEN cum >= ceil(n * 0.5) THEN bin END) + 0.5)
                     * 15.625 + 1e-9, 4) AS p50_est,
               round((min(CASE WHEN cum >= ceil(n * 0.9) THEN bin END) + 0.5)
                     * 15.625 + 1e-9, 4) AS p90_est
        FROM cum GROUP BY event_type, n
    """,
    "q_stream_cdc": """
        WITH ranked AS (
          SELECT user_id AS key, event_id, value,
                 CASE WHEN event_id % 11 = 0 THEN 'D' ELSE 'U' END AS op,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events
        )
        SELECT key, event_id AS last_event_id,
               round(value + 1e-9, 2) AS current_value
        FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
    "q_stream_hll": """
        SELECT event_type,
               count(DISTINCT user_id) AS exact_users,
               true AS within_bound
        FROM events GROUP BY event_type
    """,
    "q_stream_tumbling": _batch_windows.ORACLE["q_tumbling_window"],
    "q_stream_upsert": _batch_windows.ORACLE["q_last_wins_window"],
    # event_id is unique in the fixture, so within-watermark dedup of a
    # fully-drained stream passes every row through
    "q_stream_dedup": """
        SELECT event_id, user_id, event_type FROM events
    """,
    # each event lands in exactly two 1h-by-30min sliding windows
    "q_stream_sliding": """
        SELECT w_start, w_start + INTERVAL 1 HOUR AS w_end,
               count(*) AS cnt
        FROM (
          SELECT time_bucket(INTERVAL '30 minutes', ts)
                   - k * INTERVAL '30 minutes' AS w_start
          FROM events, unnest([0, 1]) AS t(k)
        )
        GROUP BY w_start
    """,
    # session_window merges while ts < prev + gap (half-open), so a
    # new session starts at gap >= 1800s; end = last event + gap
    "q_stream_session": """
        WITH flagged AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
                      THEN 1 ELSE 0 END AS is_start
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), numbered AS (
          SELECT user_id, ts,
                 CAST(sum(is_start) OVER (
                        PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS sid
          FROM flagged
        )
        SELECT user_id, min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               count(*) AS cnt
        FROM numbered GROUP BY user_id, sid
    """,
    # one source file + maxFilesPerTrigger=1 → exactly one micro-batch,
    # so the per-user state emitted in update mode is the full rollup
    "q_stream_incremental_agg": """
        SELECT event_type, count(*) AS n,
               round(sum(value), 2) + 0.0 AS sum_value
        FROM events GROUP BY event_type
    """,
    "q_stream_transform_state": """
        SELECT user_id, count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM events GROUP BY user_id
    """,
    "q_stream_stateful": """
        SELECT user_id, count(*) AS n_events,
               round(sum(value), 2) AS total_value,
               count(*) FILTER (event_type = 'purchase') AS n_purchases,
               min(ts) AS first_ts, max(ts) AS last_ts
        FROM events GROUP BY user_id
    """,
    "q_stream_static_join": """
        WITH profile AS (
          SELECT user_id, count(*) AS lifetime_events
          FROM events GROUP BY user_id
        )
        SELECT e.event_id, e.user_id, e.event_type, p.lifetime_events
        FROM events e LEFT JOIN profile p USING (user_id)
    """,
    # inner interval join of a fully-drained bounded run emits exactly
    # the batch self-join's pairs (watermark only evicts state)
    "q_stream_stream_join": """
        SELECT c.event_id AS click_id, p.event_id AS purchase_id,
               c.user_id AS c_user, p.value
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
    "q_stream_topk": """
        SELECT user_id, round(sum(value), 2) AS total_value,
               count(*) AS n_purchases
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id
        ORDER BY total_value DESC, user_id ASC LIMIT 3
    """,
    "q_stream_stream_left_join": """
        WITH clicks AS (
          SELECT user_id AS c_user, ts AS c_ts, event_id AS click_id
          FROM events WHERE event_type = 'click'
        ), buys AS (
          SELECT user_id AS p_user, ts AS p_ts, event_id AS purchase_id,
                 value
          FROM events WHERE event_type = 'purchase'
        ), wm AS (
          -- Spark's final watermark: min over both inputs of
          -- (max event time floored to MILLISECONDS) - 1 h delay
          SELECT make_timestamp(
                   (epoch_us(least((SELECT max(c_ts) FROM clicks),
                                   (SELECT max(p_ts) FROM buys)))
                    // 1000 - 3600000) * 1000) AS w
        ), matched AS (
          SELECT click_id, c_user, c_ts, purchase_id, value
          FROM clicks JOIN buys
            ON c_user = p_user AND p_ts >= c_ts
           AND p_ts <= c_ts + INTERVAL 30 MINUTE
        ), unmatched AS (
          SELECT c.click_id, c.c_user, c.c_ts,
                 CAST(NULL AS BIGINT) AS purchase_id,
                 CAST(NULL AS DOUBLE) AS value
          FROM clicks c, wm
          WHERE c.c_ts + INTERVAL 30 MINUTE < wm.w
            AND NOT EXISTS (
              SELECT 1 FROM buys b
              WHERE b.p_user = c.c_user AND b.p_ts >= c.c_ts
                AND b.p_ts <= c.c_ts + INTERVAL 30 MINUTE)
        )
        SELECT * FROM matched UNION ALL SELECT * FROM unmatched
    """,
}
