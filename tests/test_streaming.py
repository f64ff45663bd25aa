"""Streaming correctness beyond the driver's rows-only check: with a
bounded input and availableNow, each stream must agree with its batch
equivalent (SURVEY §7 risk list — rows-only checks hide errors)."""

from __future__ import annotations

from block_data_fetcher_spark.operators.windows import q_tumbling_window
from block_data_fetcher_spark.streaming.jobs import (
    q_stream_curate,
    q_stream_dedup,
    q_stream_session,
    q_stream_sliding,
    q_stream_stateful,
    q_stream_stream_join,
    q_stream_tumbling,
    q_stream_upsert,
)
from block_data_fetcher_spark.catalog import table


def _rows(df):
    return sorted(tuple(str(c) for c in r) for r in df.collect())


def test_stream_tumbling_matches_batch(spark, sf_dir):
    stream = q_stream_tumbling(spark, sf_dir)
    batch = q_tumbling_window(spark, sf_dir)
    assert _rows(stream) == _rows(batch)


def test_stream_dedup_preserves_unique_ids(spark, sf_dir):
    n_events = table(spark, sf_dir, "events").count()
    dedup = q_stream_dedup(spark, sf_dir)
    # event_id is unique in the fixture → dedup is a no-op on counts
    assert dedup.count() == n_events
    assert dedup.select("event_id").distinct().count() == n_events


def test_stream_sliding_window_count(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    n_events = ev.count()
    sliding = q_stream_sliding(spark, sf_dir)
    # every event lands in exactly 2 sliding windows (1h window / 30m slide)
    total = sliding.groupBy().sum("cnt").collect()[0][0]
    assert total == 2 * n_events


def test_stream_stateful_matches_batch_rollup(spark, sf_dir):
    from pyspark.sql import functions as F

    rolled = q_stream_stateful(spark, sf_dir)
    ev = table(spark, sf_dir, "events")
    batch = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.count_if(F.col("event_type") == "purchase").alias("n_purchases"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )
    assert _rows(rolled) == _rows(batch)


def test_stream_session_covers_all_events(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    n_events = ev.count()
    sessions = q_stream_session(spark, sf_dir)
    total = sessions.groupBy().sum("cnt").collect()[0][0]
    assert total == n_events


def test_stream_upsert_matches_batch_last_wins(spark, sf_dir):
    """The foreachBatch upsert sink must land exactly the batch
    last-wins answer: latest event per user."""
    from block_data_fetcher_spark.operators.windows import q_last_wins_window

    streamed = q_stream_upsert(spark, sf_dir)
    batch = q_last_wins_window(spark, sf_dir)
    assert _rows(streamed) == _rows(batch)


def test_stream_curate_matches_batch_gate_and_dedup(spark, sf_dir):
    """The streaming curation must keep exactly the documents its
    batch twin keeps: quality >= 0.5, first occurrence per distinct
    text (doc_id=0 included — regression for the epoch-0 watermark
    tie)."""
    from pyspark.sql import functions as F

    from block_data_fetcher_spark.functions.text import quality_score

    docs = table(spark, sf_dir, "documents").withColumn(
        "quality", quality_score("text")
    )
    # compare surviving text DIGESTS: since round 4 the stream emits
    # only winner-invariant columns (which dup survives is arrival-
    # order-dependent; the digest identifies the group either way)
    curated = q_stream_curate(spark, sf_dir)
    stream_hashes = {r.text_hash for r in curated.collect()}
    batch_hashes = {
        r.h
        for r in docs.where(F.col("quality") >= 0.5)
        .select(F.md5("text").alias("h"))
        .distinct()
        .collect()
    }
    assert curated.count() == len(stream_hashes)  # one survivor per text
    assert stream_hashes == batch_hashes


def test_stream_stream_join_matches_batch_self_join(spark, sf_dir):
    """The click→purchase interval join must emit exactly the batch
    self-join's pairs (bounded input, watermark never drops a row)."""
    from pyspark.sql import functions as F

    stream = q_stream_stream_join(spark, sf_dir)
    ev = table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    buys = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
        "value",
    )
    batch = clicks.join(
        buys,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts "
            "AND p_ts <= c_ts + interval 30 minutes"
        ),
    ).select("click_id", "purchase_id", "c_user", "value")
    assert _rows(stream) == _rows(batch)
    assert stream.count() > 0


def test_stream_stream_left_join_properties(spark, sf_dir):
    """LEFT OUTER interval join under watermarks: (a) the matched
    subset equals the batch inner join; (b) every null-extended click
    has NO in-window purchase in the batch data; (c) null emissions
    only happen for clicks the final watermark had proven closed
    (older than max event time − 1 h − 30 min)."""
    from pyspark.sql import functions as F

    from block_data_fetcher_spark.streaming.jobs import (
        q_stream_stream_left_join,
    )

    out = q_stream_stream_left_join(spark, sf_dir).cache()
    matched = out.where(F.col("purchase_id").isNotNull()).select(
        "click_id", "purchase_id", "c_user", "value"
    )
    ev = table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    buys = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
        "value",
    )
    cond = F.expr(
        "c_user = p_user AND p_ts >= c_ts "
        "AND p_ts <= c_ts + interval 30 minutes"
    )
    batch_inner = clicks.join(buys, cond).select(
        "click_id", "purchase_id", "c_user", "value"
    )
    assert _rows(matched) == _rows(batch_inner)

    # (b) null-extended clicks truly unconverted in the batch data
    unmatched_ids = {
        r.click_id for r in out.where(F.col("purchase_id").isNull()).collect()
    }
    batch_unmatched = {
        r.click_id
        for r in clicks.join(buys, cond, "left_anti").collect()
    }
    assert unmatched_ids <= batch_unmatched
    assert len(unmatched_ids) > 0  # the tail holdback must not eat ALL

    # (c) tail holdback: no null emission newer than the closable bound
    from pyspark.sql import functions as F2

    max_ts = ev.agg(F2.max("ts")).first()[0]
    newest_null = (
        out.where(F.col("purchase_id").isNull()).agg(F2.max("c_ts")).first()[0]
    )
    import datetime

    bound = max_ts - datetime.timedelta(hours=1, minutes=30)
    assert newest_null <= bound + datetime.timedelta(minutes=1)
    out.unpersist()


def test_stream_topk_matches_batch(spark, sf_dir):
    """Complete-mode ranked aggregate must equal the batch top-k."""
    from pyspark.sql import functions as F

    from block_data_fetcher_spark.streaming.jobs import q_stream_topk

    stream = q_stream_topk(spark, sf_dir)
    batch = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.round(F.sum("value"), 2).alias("total_value"),
            F.count("*").alias("n_purchases"),
        )
        .orderBy(F.col("total_value").desc(), F.col("user_id").asc())
        .limit(3)
    )
    assert _rows(stream) == _rows(batch)


def test_merge_aggregate_multibatch_equals_whole(spark, sf_dir, tmp_path):
    """Merging per-batch partial aggregates across SEVERAL batches must
    equal the single aggregate over the whole input — the algebraic
    invariant q_stream_incremental_agg's single-file fixture can't
    exercise on its own."""
    from pyspark.sql import functions as F

    from block_data_fetcher_spark.etl.load import merge_aggregate

    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    path = str(tmp_path / "agg_by_type")
    for i in range(3):
        batch = ev.where(F.col("event_id") % 3 == i)
        partials = batch.groupBy("event_type").agg(
            F.count("*").alias("n"), F.sum("value").alias("sum_value")
        )
        merge_aggregate(spark, partials, path, ["event_type"])
    got = {
        r["event_type"]: (r["n"], round(r["sum_value"], 2))
        for r in spark.read.parquet(path).collect()
    }
    want = {
        r["event_type"]: (r["n"], round(r["sum_value"], 2))
        for r in ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .collect()
    }
    assert got == want


def _two_file_source(spark, sf_dir, tmp_path):
    """events split into two parquet files with pinned mtimes so
    maxFilesPerTrigger=1 yields exactly two deterministic batches."""
    import os

    from pyspark.sql import functions as F

    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    src = tmp_path / "src"
    src.mkdir()
    for i in (0, 1):
        part = ev.where(F.col("event_id") % 2 == i).coalesce(1)
        d = tmp_path / f"stage{i}"
        part.write.mode("overwrite").parquet(str(d))
        (pq_file,) = [f for f in os.listdir(d) if f.endswith(".parquet")]
        dst = src / f"f{i}.parquet"
        os.rename(d / pq_file, dst)
        os.utime(dst, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))
    return ev, str(src)


def test_incremental_agg_crash_after_swap_is_exactly_once(spark, sf_dir, tmp_path):
    """The UNGRACEFUL half of the batch_id ledger contract (r4 VERDICT
    item 4): the stream is KILLED by an exception injected AFTER
    merge_aggregate swapped batch 1's table but BEFORE the checkpoint
    commit. Restart must (a) still have the complete batch-0+1 table
    on disk the moment the crash happened — the swap is atomic — and
    (b) replay batch 1 as a ledger-skipped no-op, so the final table
    equals the batch aggregate: no double-count, no loss."""
    import pyspark.errors
    import pytest
    from pyspark.sql import functions as F

    from block_data_fetcher_spark.etl.load import merge_aggregate

    ev, src = _two_file_source(spark, sf_dir, tmp_path)
    path = str(tmp_path / "agg_by_type")
    ckpt = str(tmp_path / "ckpt")
    crashed = {"done": False}

    def write_batch(batch_df, batch_id):
        partials = batch_df.groupBy("event_type").agg(
            F.count("*").alias("n"), F.sum("value").alias("sum_value")
        )
        merge_aggregate(
            batch_df.sparkSession, partials, path, ["event_type"],
            batch_id=batch_id,
        )
        if batch_id == 1 and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected crash between swap and commit")

    def run():
        q = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    with pytest.raises(pyspark.errors.exceptions.captured.StreamingQueryException):
        run()
    assert crashed["done"]

    want = {
        r["event_type"]: (r["n"], round(r["sum_value"], 2))
        for r in ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .collect()
    }
    # (a) the crash left the COMPLETE merged table behind — batch 1's
    # swap committed before the exception; nothing was lost
    after_crash = {
        r["event_type"]: (r["n"], round(r["sum_value"], 2))
        for r in spark.read.parquet(path).collect()
    }
    assert after_crash == want

    # (b) restart replays batch 1 (at-least-once) — the ledger makes
    # it a no-op instead of a double merge
    run()
    final = {
        r["event_type"]: (r["n"], round(r["sum_value"], 2))
        for r in spark.read.parquet(path).collect()
    }
    assert final == want


def test_stream_cdc_crash_after_swap_converges(spark, sf_dir, tmp_path):
    """q_stream_cdc's sink under the same injected kill: the keyed
    last-wins upsert (tombstones kept) is idempotent by key, so the
    replayed batch must converge to the batch CDC answer — no
    resurrected deletes, no duplicate keys, table never lost."""
    import pyspark.errors
    import pytest
    from pyspark.sql import functions as F

    from block_data_fetcher_spark.etl.load import upsert_parquet

    ev, src = _two_file_source(spark, sf_dir, tmp_path)
    ops = ev.select(
        F.col("user_id").alias("key"),
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_id") % 11 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    path = str(tmp_path / "cdc_snapshot")
    ckpt = str(tmp_path / "cdc_checkpoint")
    crashed = {"done": False}

    def write_batch(batch_df, batch_id):
        batch_ops = batch_df.select(
            F.col("user_id").alias("key"),
            "ts",
            "event_id",
            "value",
            F.when(F.col("event_id") % 11 == 0, F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
        )
        upsert_parquet(
            batch_df.sparkSession, batch_ops, path,
            keys=["key"], order=["ts", "event_id"],
        )
        if batch_id == 1 and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected crash between swap and commit")

    def run():
        q = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    with pytest.raises(pyspark.errors.exceptions.captured.StreamingQueryException):
        run()
    assert crashed["done"]
    run()

    from pyspark.sql import Window

    w = Window.partitionBy("key").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    want = _rows(
        ops.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "D"))
        .select("key", "event_id", "value")
    )
    got = _rows(
        spark.read.parquet(path)
        .where(F.col("op") != "D")
        .select("key", "event_id", "value")
    )
    assert got == want


def test_merge_aggregate_replayed_batch_id_is_skipped(spark, sf_dir, tmp_path):
    """foreachBatch is AT-LEAST-once: a crash between the table swap
    and the checkpoint commit replays the batch on restart. The
    batch_id marker persisted inside the table directory must make the
    replay a no-op — merging the SAME partials with the SAME batch_id
    twice (and then with an older id) leaves the table unchanged."""
    from pyspark.sql import functions as F

    from block_data_fetcher_spark.etl.load import merge_aggregate

    ev = table(spark, sf_dir, "events").select("event_type", "value")
    partials = ev.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("value").alias("sum_value")
    )
    path = str(tmp_path / "agg_by_type")
    merge_aggregate(spark, partials, path, ["event_type"], batch_id=0)
    once = {
        r["event_type"]: (r["n"], round(r["sum_value"], 2))
        for r in spark.read.parquet(path).collect()
    }
    # replay of batch 0 (crash-after-swap scenario) and a stale older id
    merge_aggregate(spark, partials, path, ["event_type"], batch_id=0)
    merge_aggregate(spark, partials, path, ["event_type"], batch_id=0)
    replayed = {
        r["event_type"]: (r["n"], round(r["sum_value"], 2))
        for r in spark.read.parquet(path).collect()
    }
    assert replayed == once
    # a genuinely new batch id still merges (counts double)
    merge_aggregate(spark, partials, path, ["event_type"], batch_id=1)
    merged = {
        r["event_type"]: r["n"] for r in spark.read.parquet(path).collect()
    }
    assert merged == {k: 2 * v[0] for k, v in once.items()}


def test_stream_upsert_restart_from_checkpoint_exactly_once(spark, sf_dir, tmp_path):
    """Kill-and-restart recovery: run the upsert stream over file 1
    with a durable checkpoint, then drop file 2 into the source dir
    and RESTART with the same checkpoint. The restarted query must
    process only the new file (no re-emission of batch 0) and the
    final table must equal the batch last-wins over both slices —
    the exactly-once-by-key contract (ST6/S8) across process
    boundaries, not just within one run."""
    import os

    from pyspark.sql import functions as F

    from block_data_fetcher_spark.etl.load import stream_upsert
    from block_data_fetcher_spark.etl.load import last_wins
    from block_data_fetcher_spark.streaming.jobs import _EVENTS_RAW_SCHEMA

    ev = table(spark, sf_dir, "events")
    src = tmp_path / "src"
    os.makedirs(src)
    half1 = ev.where(F.col("event_id") % 2 == 0)
    half2 = ev.where(F.col("event_id") % 2 == 1)
    half1.write.mode("overwrite").parquet(str(tmp_path / "h1"))
    half2.write.mode("overwrite").parquet(str(tmp_path / "h2"))

    def add_file(from_dir: str, name: str) -> None:
        import shutil

        files = [f for f in os.listdir(from_dir) if f.endswith(".parquet")]
        shutil.copy(os.path.join(from_dir, files[0]), str(src / name))

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out" / "latest_by_user")

    def run_once() -> None:
        stream = (
            spark.readStream.schema(_EVENTS_RAW_SCHEMA)
            .parquet(str(src))
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .select("user_id", "event_id", "event_type", "value", "ts")
        )
        q = stream_upsert(
            stream, out, keys=["user_id"], order=["ts", "event_id"], checkpoint=ckpt
        )
        q.awaitTermination(300)

    add_file(str(tmp_path / "h1"), "part1.parquet")
    run_once()
    n_after_first = spark.read.parquet(out).count()

    add_file(str(tmp_path / "h2"), "part2.parquet")
    run_once()  # same checkpoint: must pick up ONLY part2

    got = {
        r["user_id"]: r["event_id"]
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r["user_id"]: r["event_id"]
        for r in last_wins(ev, ["user_id"], ["ts", "event_id"])
        .select("user_id", "event_id")
        .collect()
    }
    assert got == want
    assert n_after_first > 0


def test_incremental_agg_restart_does_not_double_count(spark, sf_dir, tmp_path):
    """merge_aggregate is NOT idempotent (counts add), so exactly-once
    across restarts must come from the streaming checkpoint: feed file
    1, restart with the same checkpoint plus file 2, and the
    maintained aggregate must equal the whole-input aggregate — a
    re-delivered batch would double-count and fail this."""
    import os

    from pyspark.sql import functions as F

    from block_data_fetcher_spark.etl.load import merge_aggregate
    from block_data_fetcher_spark.streaming.jobs import _EVENTS_RAW_SCHEMA

    ev = table(spark, sf_dir, "events")
    src = tmp_path / "src"
    os.makedirs(src)
    for i in (0, 1):
        ev.where(F.col("event_id") % 2 == i).write.mode("overwrite").parquet(
            str(tmp_path / f"h{i}")
        )

    def add_file(i: int) -> None:
        import shutil

        d = str(tmp_path / f"h{i}")
        f = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        shutil.copy(os.path.join(d, f), str(src / f"part{i}.parquet"))

    ckpt = str(tmp_path / "ckpt")
    path = str(tmp_path / "out" / "agg_by_type")

    def run_once() -> None:
        stream = (
            spark.readStream.schema(_EVENTS_RAW_SCHEMA)
            .parquet(str(src))
            .select("event_type", "value")
        )

        def write_batch(batch_df, batch_id) -> None:
            partials = batch_df.groupBy("event_type").agg(
                F.count("*").alias("n"), F.sum("value").alias("sum_value")
            )
            merge_aggregate(
                batch_df.sparkSession, partials, path, ["event_type"],
                batch_id=batch_id,
            )

        q = (
            stream.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    add_file(0)
    run_once()
    add_file(1)
    run_once()

    got = {
        r["event_type"]: (r["n"], round(r["sum_value"], 2))
        for r in spark.read.parquet(path).collect()
    }
    want = {
        r["event_type"]: (r["n"], round(r["sum_value"], 2))
        for r in ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .collect()
    }
    assert got == want


def test_cdc_tombstone_survives_out_of_order_replay(spark, sf_dir, tmp_path):
    """A delete tombstone must not be resurrected when an EARLIER
    batch is replayed after the delete was applied: the tombstone rides
    through the keyed last-wins merge as a row, so replaying batch 1
    after batch 2's delete converges to the same deleted state."""
    from block_data_fetcher_spark.etl.load import upsert_parquet

    path = str(tmp_path / "cdc")
    b1 = spark.createDataFrame(
        [(1, 10, 100.0, "U"), (2, 11, 200.0, "U")],
        "key long, event_id long, value double, op string",
    )
    b2 = spark.createDataFrame(
        [(1, 22, 0.0, "D")],  # later delete of key 1
        "key long, event_id long, value double, op string",
    )
    upsert_parquet(spark, b1, path, keys=["key"], order=["event_id"])
    upsert_parquet(spark, b2, path, keys=["key"], order=["event_id"])
    # crash + replay of the OLDER batch
    upsert_parquet(spark, b1, path, keys=["key"], order=["event_id"])
    live = {
        r.key: r.event_id
        for r in spark.read.parquet(path).where("op <> 'D'").collect()
    }
    assert live == {2: 11}  # key 1 stays deleted; replay was a no-op
    # and the tombstone itself is still present for future merges
    ops = {r.key: r.op for r in spark.read.parquet(path).collect()}
    assert ops[1] == "D"


def test_stream_partitions_handles_directory_fixture(spark, sf_dir, tmp_path):
    """r6 verdict nit: `_stream_partitions` sized state-store
    parallelism from a single `events.parquet` FILE and silently fell
    back to the floor of 8 if the fixture were a directory. A
    Spark-written (directory-shaped) events fixture must size from
    the summed part-file bytes, identically to a single file of the
    same size."""
    import os

    from block_data_fetcher_spark.streaming.jobs import _stream_partitions

    # single-file fixtures keep their existing sizing
    single = _stream_partitions(sf_dir)
    size = os.path.getsize(os.path.join(sf_dir, "events.parquet"))
    assert single == min(32, max(8, int(size // (4 << 20))))

    # directory-shaped fixture: Spark writes part files + _SUCCESS
    ddir = str(tmp_path / "dirfix")
    os.makedirs(ddir)
    spark.read.parquet(os.path.join(sf_dir, "events.parquet")).repartition(
        4
    ).write.parquet(os.path.join(ddir, "events.parquet"))
    dsize = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _d, files in os.walk(os.path.join(ddir, "events.parquet"))
        for f in files
        if not f.startswith(("_", "."))
    )
    assert dsize > 0
    assert _stream_partitions(ddir) == min(32, max(8, int(dsize // (4 << 20))))

    # missing fixture still floors at 8
    assert _stream_partitions(str(tmp_path / "nope")) == 8


def test_state_provider_sized_by_source(sf_dir, monkeypatch):
    """r15: the state-store provider is chosen by source size — JVM-heap
    (HDFSBacked) for fixture-scale sources whose state is trivially
    heap-safe, RocksDB for anything larger (the r9 sf100 OOM posture)
    and for any source whose size can't be read."""
    from block_data_fetcher_spark.streaming import jobs as J

    # every shipped fixture is well under the 64 MB default → heap
    assert J._state_provider(sf_dir) == J._PROVIDER_HEAP

    # shrinking the threshold below the fixture flips it to RocksDB
    monkeypatch.setattr(J, "_HEAP_STATE_MAX_SRC_BYTES", 0)
    assert J._state_provider(sf_dir) == J._PROVIDER_ROCKSDB

    # unreadable source → the safe (RocksDB) side regardless of threshold
    monkeypatch.setattr(J, "_HEAP_STATE_MAX_SRC_BYTES", 1 << 60)
    assert J._state_provider("/nonexistent/dir") == J._PROVIDER_ROCKSDB


def test_state_provider_sized_by_actual_source(sf_dir, monkeypatch):
    """ADVICE r15: sizing reads the file the query actually STREAMS —
    q_stream_curate streams documents.parquet, not events.parquet —
    and stream-stream joins halve the effective threshold (weight=2:
    one availableNow trigger buffers BOTH sides' horizons)."""
    import os

    from block_data_fetcher_spark.streaming import jobs as J

    ev = os.path.getsize(os.path.join(sf_dir, "events.parquet"))
    docs = os.path.getsize(os.path.join(sf_dir, "documents.parquet"))

    # A threshold between the two sources separates the choices: the
    # per-source signal must be read, not the events default.
    lo, hi = sorted((ev, docs))
    monkeypatch.setattr(J, "_HEAP_STATE_MAX_SRC_BYTES", lo)
    small_src = "events.parquet" if ev == lo else "documents.parquet"
    big_src = "documents.parquet" if ev == lo else "events.parquet"
    assert J._state_provider(sf_dir, source=small_src) == J._PROVIDER_HEAP
    assert J._state_provider(sf_dir, source=big_src) == J._PROVIDER_ROCKSDB

    # weight=2 (stream-stream joins): flips to RocksDB when twice the
    # source no longer fits the threshold.
    monkeypatch.setattr(J, "_HEAP_STATE_MAX_SRC_BYTES", ev * 2 - 1)
    assert J._state_provider(sf_dir) == J._PROVIDER_HEAP
    assert J._state_provider(sf_dir, weight=2) == J._PROVIDER_ROCKSDB


# ----------------------------------------------- multi-batch eviction


def test_split_source_slices_are_time_ordered(spark, sf_dir, monkeypatch):
    """The split source's files must be time-DISJOINT and admitted in
    time ORDER — the invariant that makes multi-batch results equal
    single-batch results (zero cross-batch disorder → zero late
    drops)."""
    import os

    from block_data_fetcher_spark.streaming import jobs

    monkeypatch.setenv("BDF_RUN_ID", "split_order_test")
    out = jobs._split_events_source(spark, sf_dir)
    parts = sorted(
        f
        for f in os.listdir(out)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    assert len(parts) >= 4
    # strictly increasing mtimes in name order (= admission order)
    mtimes = [os.path.getmtime(os.path.join(out, f)) for f in parts]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    # disjoint, ordered ts ranges
    prev_max = None
    for f in parts:
        mn, mx = (
            spark.read.parquet(os.path.join(out, f))
            .selectExpr("min(ts)", "max(ts)")
            .first()
        )
        if prev_max is not None:
            assert mn >= prev_max, f"slice {f} overlaps the previous one"
        prev_max = mx
    # lossless: same rows as the original file
    n_orig = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()
    assert spark.read.parquet(out).count() == n_orig
    from block_data_fetcher_spark import scratch

    scratch.clear_scratch(spark)


def test_stream_dedup_multibatch_evicts_and_matches(spark, sf_dir, monkeypatch):
    """VERDICT r9 item 5: with the source split into time-ordered
    slices, the bounded dedup run must (a) take >1 micro-batch,
    (b) drop ZERO rows as late, (c) actually EVICT watermark-passed
    state (removed > 0, peak ≪ input), and (d) return exactly the
    single-batch result."""
    from block_data_fetcher_spark.streaming import jobs

    monkeypatch.setenv("BDF_RUN_ID", "split_dedup_test")

    base = sorted(
        tuple(r)
        for r in jobs.q_stream_dedup(spark, sf_dir).collect()
    )

    monkeypatch.setattr(jobs, "_SPLIT_THRESHOLD", jobs._source_bytes(sf_dir))
    split = sorted(
        tuple(r)
        for r in jobs.q_stream_dedup(spark, sf_dir).collect()
    )
    stats = jobs.STREAM_STATS["stream_dedup"]
    assert stats["n_batches"] > 1, stats
    assert stats["rows_dropped_late"] == 0, stats
    assert stats["state_rows_removed"] > 0, stats
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert stats["state_rows_peak"] < n_events, stats
    assert split == base

    from block_data_fetcher_spark import scratch

    scratch.clear_scratch(spark)


def test_stream_stream_join_multibatch_matches(spark, sf_dir, monkeypatch):
    """Both stream-stream joins must be batching-invariant: the inner
    join exactly; the left join's null-extensions depend only on the
    FINAL watermark, which batching doesn't change."""
    from block_data_fetcher_spark.streaming import jobs

    monkeypatch.setenv("BDF_RUN_ID", "split_join_test")

    base_inner = sorted(
        tuple(r) for r in jobs.q_stream_stream_join(spark, sf_dir).collect()
    )
    base_left = sorted(
        tuple(r)
        for r in jobs.q_stream_stream_left_join(spark, sf_dir).collect()
    )

    monkeypatch.setattr(jobs, "_SPLIT_THRESHOLD", jobs._source_bytes(sf_dir))
    split_inner = sorted(
        tuple(r) for r in jobs.q_stream_stream_join(spark, sf_dir).collect()
    )
    assert jobs.STREAM_STATS["stream_stream_join"]["n_batches"] > 1
    assert (
        jobs.STREAM_STATS["stream_stream_join"]["rows_dropped_late"] == 0
    )
    split_left = sorted(
        tuple(r)
        for r in jobs.q_stream_stream_left_join(spark, sf_dir).collect()
    )
    assert split_inner == base_inner
    assert split_left == base_left

    from block_data_fetcher_spark import scratch

    scratch.clear_scratch(spark)


def test_stream_dirs_land_under_tempdir(tmp_path, monkeypatch):
    """Stream sink and checkpoint dirs are made under the OS temp dir
    (``TMPDIR``), the one home for ephemeral dirs, and removed by
    clear_stream_scratch (also registered for interpreter exit)."""
    import os
    import tempfile

    from block_data_fetcher_spark.streaming import jobs

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", None)  # re-read TMPDIR
    ckpt = jobs._mkdtemp("ckpt_probe_")
    sink = jobs._mkdtemp("sink_probe_")
    assert os.path.dirname(ckpt) == os.path.dirname(sink) == str(tmp_path)
    jobs.clear_stream_scratch()
    assert not os.listdir(tmp_path)


def test_stream_upsert_and_cdc_checkpoints_are_removed(spark, sf_dir, tmp_path, monkeypatch):
    """q_stream_upsert and q_stream_cdc make their checkpoints under the
    temp dir as tracked stream scratch, so none outlives the process."""
    import os
    import tempfile

    from block_data_fetcher_spark.streaming import jobs

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", None)  # re-read TMPDIR
    jobs.q_stream_upsert(spark, sf_dir).count()
    jobs.q_stream_cdc(spark, sf_dir).count()
    ckpts = [f for f in os.listdir(tmp_path) if f.startswith("ckpt_")]
    assert len(ckpts) == 2
    jobs.clear_stream_scratch()
    assert not [f for f in os.listdir(tmp_path) if f.startswith("ckpt_")]


def test_stream_late_data_refuses_a_split_slice(spark, sf_dir):
    """Each staged slice must be exactly one part file: a slice split
    across files (here by maxRecordsPerFile) fails loudly instead of
    streaming only its first file."""
    import pytest

    from block_data_fetcher_spark.streaming import jobs

    prev = spark.conf.get("spark.sql.files.maxRecordsPerFile")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "5")
    try:
        with pytest.raises(RuntimeError, match="part files"):
            jobs.q_stream_late_data(spark, sf_dir)
    finally:
        spark.conf.set("spark.sql.files.maxRecordsPerFile", prev)
