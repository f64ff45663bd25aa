"""Production layout checks: partition pruning, bucketed co-located
joins, and salted aggregation — plan-level evidence that the 100 TB
posture (storage.py) actually changes the physical plan."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from block_data_fetcher_spark.catalog import table
from block_data_fetcher_spark.plans.explain import (
    count_exchanges,
    formatted_plan,
)
from block_data_fetcher_spark.storage import (
    salted_sum_count,
    with_event_date,
    write_bucketed,
    write_partitioned,
)


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    ev = with_event_date(table(spark, sf_dir, "events"))
    path = str(tmp_path / "events_by_date")
    write_partitioned(ev, path, ["event_date"])

    back = spark.read.parquet(path)
    one_day = back.where(F.col("event_date") == "2024-01-05")
    plan = formatted_plan(one_day)
    # the filter lands as a directory-level PartitionFilter, not a row filter
    assert "PartitionFilters" in plan
    assert "2024-01-05" in plan.split("PartitionFilters", 1)[1].split("\n", 1)[0]
    # and the data still round-trips
    want = ev.where(F.col("event_date") == "2024-01-05").count()
    assert one_day.count() == want and want > 0


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    # managed tables land in the session warehouse dir; DROP TABLE in
    # the finally block removes their files
    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem")
    write_bucketed(orders, "orders_b", ["o_orderkey"], 4)
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "lineitem_b",
        ["o_orderkey"],
        4,
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("orders_b").join(
            spark.table("lineitem_b"), "o_orderkey"
        )
        # co-located: bucket layout satisfies both sides' distribution
        assert count_exchanges(joined) == 0
        assert joined.count() == orders.join(
            lineitem, orders.o_orderkey == lineitem.l_orderkey
        ).count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_salted_agg_matches_plain(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    salted = salted_sum_count(ev, ["user_id"], "value", 8, "event_id")
    plain = ev.groupBy("user_id").agg(
        F.sum("value").alias("sum_value"), F.count("*").alias("cnt")
    )
    got = {
        r["user_id"]: (round(r["sum_value"], 6), r["cnt"]) for r in salted.collect()
    }
    want = {
        r["user_id"]: (round(r["sum_value"], 6), r["cnt"]) for r in plain.collect()
    }
    assert got == want
    # two-stage: the salted plan carries an extra aggregation level
    assert formatted_plan(salted).count("HashAggregate") >= 4


def test_zorder_layout_prunes_both_dimensions(spark, sf_dir, tmp_path):
    """Z-order vs single-column sort, measured on the actual parquet
    row-group stats (pyarrow): for a predicate on the NON-leading
    dimension, a user_id-sorted layout cannot prune anything (every
    file spans the full value range), while the z-ordered layout keeps
    value min/max tight per file and skips most row groups."""
    import pyarrow.parquet as pq
    from block_data_fetcher_spark.storage import (
        linear_bucket,
        write_zordered,
        zorder_key,
    )

    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    lo_u, hi_u, lo_v, hi_v = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("value"), F.max("value")
    ).head()

    zkey = zorder_key(
        [
            linear_bucket(F.col("user_id"), lo_u, hi_u + 1, bits=4),
            linear_bucket(F.col("value"), lo_v, hi_v, bits=4),
        ],
        bits=4,
    )
    zpath = str(tmp_path / "events_z")
    upath = str(tmp_path / "events_u")
    write_zordered(ev, zpath, zkey, n_files=16)
    (
        ev.repartitionByRange(16, "user_id")
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .parquet(upath)
    )

    # predicate: middle quarter of the value range, any user
    q_lo = lo_v + (hi_v - lo_v) * 0.4
    q_hi = lo_v + (hi_v - lo_v) * 0.6

    def overlap_fraction(path: str) -> float:
        import os

        touched = total = 0
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            idx = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }["value"]
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                total += 1
                if st.min <= q_hi and st.max >= q_lo:
                    touched += 1
        assert total >= 8
        return touched / total

    frac_z = overlap_fraction(zpath)
    frac_u = overlap_fraction(upath)
    # user-sorted files all span the whole value range — no pruning
    assert frac_u > 0.9, frac_u
    # z-ordered files keep value spans tight — most row groups skipped
    assert frac_z <= 0.5, (frac_z, frac_u)
    # identical data either way
    assert (
        spark.read.parquet(zpath).count()
        == spark.read.parquet(upath).count()
        == ev.count()
    )


def test_jdbc_upsert_offline(spark):
    """The production Postgres sink path (reference load.rs:154-290),
    exercised offline: injected staging-writer and SQL-runner capture
    what would hit the database — the deduplicated last-wins frame,
    the staging table name, and ONE set-based upsert statement."""
    from block_data_fetcher_spark.etl.jdbc import jdbc_upsert

    df = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "c", 5)],
        "id long, val string, version long",
    )
    captured: dict = {}

    def ws(d, staging):
        captured["rows"] = sorted(tuple(r) for r in d.collect())
        captured["staging"] = staging

    stmts: list[str] = []
    stmt = jdbc_upsert(
        df,
        "jdbc:postgresql://db/x",
        "transactions",
        ["id"],
        ["version"],
        write_staging=ws,
        run_sql=stmts.append,
    )
    # newest version wins within the batch
    assert captured["rows"] == [(1, "b", 20), (2, "c", 5)]
    assert captured["staging"] == "transactions_staging"
    assert stmts == [stmt]
    assert stmt == (
        'INSERT INTO "transactions" ("id", "val", "version") '
        'SELECT "id", "val", "version" FROM "transactions_staging" '
        'ON CONFLICT ("id") '
        'DO UPDATE SET "val" = EXCLUDED."val", "version" = EXCLUDED."version"'
    )


def test_jdbc_upsert_sql_variants():
    from block_data_fetcher_spark.etl.jdbc import merge_sql, upsert_sql

    # keys-only table degrades to DO NOTHING / insert-only MERGE
    assert upsert_sql("t", ["k"], ["k"], "s").endswith("DO NOTHING")
    m = merge_sql("t", ["k", "v"], ["k"], "s")
    assert 'MERGE INTO "t" t USING "s" s ON t."k" = s."k"' in m
    assert 'WHEN MATCHED THEN UPDATE SET t."v" = s."v"' in m
    assert 'WHEN NOT MATCHED THEN INSERT ("k", "v") VALUES (s."k", s."v")' in m
    m2 = merge_sql("t", ["k"], ["k"], "s")
    assert "WHEN MATCHED" not in m2


def test_stream_jdbc_upsert_offline(spark, tmp_path):
    """foreachBatch twin: a bounded file stream drains through the
    injected sink; the union of captured batches upserts to the same
    final state as a batch upsert."""
    from block_data_fetcher_spark.etl.jdbc import stream_jdbc_upsert

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "c", 5)],
        "id long, val string, version long",
    ).write.parquet(src)
    stream = spark.readStream.schema("id long, val string, version long").parquet(src)

    seen: list[tuple] = []
    q = stream_jdbc_upsert(
        stream,
        "jdbc:postgresql://db/x",
        "transactions",
        ["id"],
        ["version"],
        checkpoint=str(tmp_path / "ckpt"),
        write_staging=lambda d, s: seen.extend(tuple(r) for r in d.collect()),
        run_sql=lambda sql: None,
    )
    q.awaitTermination(120)
    assert sorted(seen) == [(1, "b", 20), (2, "c", 5)]


def test_gdpr_dynamic_overwrite_leaves_other_partitions_untouched(
    spark, sf_dir, tmp_path
):
    """The surgical-rewrite claim behind q_gdpr_erasure: dynamic
    partition overwrite must replace ONLY the partitions present in
    the written frame — files of unaffected days keep their exact
    paths and mtimes."""
    import os

    from block_data_fetcher_spark.storage import (
        repartition_for_write,
        with_event_date,
        write_partitioned,
    )

    path = str(tmp_path / "events_by_date")
    ev = with_event_date(table(spark, sf_dir, "events"))
    write_partitioned(repartition_for_write(ev, ["event_date"]), path, ["event_date"])

    store = spark.read.parquet(path)
    days = sorted(
        r["event_date"] for r in store.select("event_date").distinct().collect()
    )
    assert len(days) >= 2
    target, untouched = days[0], days[1:]

    def snapshot(day):
        d = os.path.join(path, f"event_date={day}")
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before = {d: snapshot(d) for d in untouched}
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        cleaned = store.where(
            (F.col("event_date") == target) & (F.col("user_id") % 97 != 0)
        )
        repartition_for_write(cleaned, ["event_date"]).write.partitionBy(
            "event_date"
        ).mode("overwrite").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    after = {d: snapshot(d) for d in untouched}
    assert after == before  # same files, same mtimes — never rewritten
    # and the target partition actually lost the doomed users
    back = spark.read.parquet(path)
    assert (
        back.where(
            (F.col("event_date") == target) & (F.col("user_id") % 97 == 0)
        ).count()
        == 0
    )


def test_gdpr_erasure_wholly_doomed_partition_is_deleted(spark, sf_dir, tmp_path):
    """Erasure must hold even when EVERY row of a partition belongs to
    deleted users: dynamic overwrite alone would skip that partition
    (no surviving rows to write), silently retaining the data.
    erase_partitions must drop the directory explicitly."""
    import os

    from block_data_fetcher_spark.storage import (
        erase_partitions,
        repartition_for_write,
        with_event_date,
        write_partitioned,
    )

    path = str(tmp_path / "events_gdpr_edge")
    ev = with_event_date(table(spark, sf_dir, "events"))
    write_partitioned(repartition_for_write(ev, ["event_date"]), path, ["event_date"])

    store = spark.read.parquet(path)
    days = sorted(
        r["event_date"] for r in store.select("event_date").distinct().collect()
    )
    whole, partial = days[0], days[1]
    # doom: ALL rows of `whole`, plus a user subset of `partial`
    doomed = (F.col("event_date") == F.lit(whole)) | (
        (F.col("event_date") == F.lit(partial)) & (F.col("user_id") % 7 == 0)
    )
    erase_partitions(spark, path, doomed, [whole, partial])

    assert not os.path.exists(os.path.join(path, f"event_date={whole}"))
    back = spark.read.parquet(path)
    assert back.where(F.col("event_date") == F.lit(whole)).count() == 0
    assert (
        back.where(
            (F.col("event_date") == F.lit(partial)) & (F.col("user_id") % 7 == 0)
        ).count()
        == 0
    )
    # non-doomed rows of the partial day and all other days survive
    want_partial = ev.where(
        (F.col("event_date") == F.lit(partial)) & (F.col("user_id") % 7 != 0)
    ).count()
    assert back.where(F.col("event_date") == F.lit(partial)).count() == want_partial
    want_rest = ev.where(~F.col("event_date").isin([whole, partial])).count()
    assert back.where(~F.col("event_date").isin([whole, partial])).count() == want_rest


def test_jdbc_upsert_statement_executes_against_duckdb(spark):
    """The generated ON CONFLICT statement is EXECUTED, not just
    string-asserted (round-3 advice): DuckDB speaks the same
    INSERT ... ON CONFLICT (k) DO UPDATE SET c = EXCLUDED.c dialect,
    so it stands in for Postgres. The round-trip must equal the
    engine's own last_wins over existing ∪ batch — including an
    intra-batch duplicate key, which would make a non-deduplicated
    INSERT..SELECT fail outright (ON CONFLICT cannot update the same
    row twice)."""
    import duckdb

    from block_data_fetcher_spark.etl.jdbc import jdbc_upsert
    from block_data_fetcher_spark.etl.load import last_wins

    con = duckdb.connect()
    con.execute(
        'CREATE TABLE "transactions" '
        '("id" BIGINT PRIMARY KEY, "label" VARCHAR, "version" BIGINT)'
    )
    existing = [(1, "old-a", 10), (3, "keep", 7)]
    con.executemany('INSERT INTO "transactions" VALUES (?, ?, ?)', existing)

    batch = spark.createDataFrame(
        [
            (1, "new-a", 20),     # conflict with existing → update
            (2, "first-b", 5),    # intra-batch dup key...
            (2, "second-b", 6),   # ...higher version wins in dedup
        ],
        "id long, label string, version long",
    )

    def write_staging(df, staging):
        pdf = df.toPandas()
        con.register("staging_view", pdf)
        con.execute(
            f'CREATE OR REPLACE TABLE "{staging}" AS SELECT * FROM staging_view'
        )

    stmt = jdbc_upsert(
        batch,
        "jdbc:postgresql://db/x",
        "transactions",
        ["id"],
        ["version"],
        write_staging=write_staging,
        run_sql=lambda sql: con.execute(sql),
    )
    assert "ON CONFLICT" in stmt
    got = sorted(
        tuple(r)
        for r in con.execute(
            'SELECT "id", "label", "version" FROM "transactions"'
        ).fetchall()
    )
    ex_df = spark.createDataFrame(existing, "id long, label string, version long")
    want = sorted(
        tuple(r)
        for r in last_wins(
            ex_df.unionByName(batch), ["id"], ["version"]
        ).collect()
    )
    assert got == want == [(1, "new-a", 20), (2, "second-b", 6), (3, "keep", 7)]


def test_time_travel_cow_reuses_unchanged_bucket_files(spark, sf_dir):
    """q_time_travel's v2 commit must rewrite ONLY the changed bucket:
    the v2 manifest lists the v1 files of every unchanged bucket
    verbatim (copy-on-write), and both snapshots read back exactly."""
    import json
    import os

    from block_data_fetcher_spark import storage

    storage.q_time_travel(spark, sf_dir).collect()
    from block_data_fetcher_spark.scratch import scratch_dir

    base = scratch_dir(spark, "storage", "user_totals_versioned")
    with open(os.path.join(base, "manifest.json")) as f:
        manifests = json.load(f)
    v1, v2 = set(manifests["1"]), set(manifests["2"])
    assert len(v1) == storage.TT_BUCKETS == len(v2)
    # exactly one rewritten file (bucket 0); the rest reused from v1
    assert len(v2 - v1) == 1 and "b0_v2" in next(iter(v2 - v1))
    assert len(v1 & v2) == storage.TT_BUCKETS - 1


def test_compaction_file_counts_and_plan(spark, sf_dir):
    """Compaction must actually reduce the file count to the
    byte-budget math, and the rewrite must be shuffle-free."""
    import os

    from block_data_fetcher_spark.catalog import table
    from block_data_fetcher_spark.storage import compact_table, list_data_files

    from block_data_fetcher_spark.scratch import scratch_dir

    base = scratch_dir(spark, "storage")
    frag = os.path.join(base, "t_frag")
    packed = os.path.join(base, "t_packed")
    ev = table(spark, sf_dir, "events")
    ev.repartition(32).write.mode("overwrite").parquet(frag)
    before, after = compact_table(spark, frag, packed, target_bytes=1 << 30)
    assert before == 32
    assert after == 1  # everything fits one 1 GiB target file
    assert spark.read.parquet(packed).count() == ev.count()

    # a small byte target yields the ceil(total/target) count
    files = list_data_files(frag)
    total = sum(sz for _, sz in files)
    target = max(1, total // 4)
    _, after4 = compact_table(spark, frag, packed + "4", target_bytes=target)
    assert after4 == -(-total // target)

    # shuffle-free: the coalesce plan shows no Exchange
    plan = (
        spark.read.parquet(frag)
        .coalesce(2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_vacuum_preserves_cow_shared_files(spark, sf_dir, tmp_path):
    """Expiring v1 must delete ONLY files no surviving manifest
    references: the COW buckets v2 reuses from v1 stay on disk and
    the v2 snapshot still reads identically."""
    import os

    from block_data_fetcher_spark.storage import (
        build_versioned_table,
        vacuum_versions,
    )

    base = str(tmp_path / "versioned")
    manifests = build_versioned_table(spark, sf_dir, base)
    before = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.read.parquet(*manifests[2]).collect()
    }
    shared = set(manifests[1]) & set(manifests[2])
    dead = set(manifests[1]) - set(manifests[2])
    assert shared and dead  # COW actually shared some files, expired one
    n = vacuum_versions(base, manifests, keep=2)
    assert n == len(dead)
    for f in shared:
        assert os.path.exists(f), f"shared file deleted: {f}"
    for f in dead:
        assert not os.path.exists(f), f"expired file survived: {f}"
    after = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.read.parquet(*manifests[2]).collect()
    }
    assert after == before


def _tiny_events(spark, tmp_path, users) -> str:
    """A fixture dir whose events table holds one pre-split event per
    user in ``users``."""
    import datetime

    sf = str(tmp_path / "sf")
    ts = datetime.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(u, float(u), ts) for u in users], "user_id long, value double, ts timestamp"
    ).write.parquet(f"{sf}/events.parquet")
    return sf


def test_versioned_table_with_an_empty_bucket_renames_none(spark, tmp_path, monkeypatch):
    """When some bucket writes no staged ``_pb=`` dir, every bucket takes
    the filtered write: no staged dir is renamed, and the stage is gone."""
    import os

    from block_data_fetcher_spark.storage import TT_BUCKETS, build_versioned_table

    sf = _tiny_events(spark, tmp_path, range(1, TT_BUCKETS - 2))  # buckets 0, 6, 7 empty
    renames = []
    real_rename = os.rename
    monkeypatch.setattr(os, "rename", lambda a, b: (renames.append(a), real_rename(a, b)))
    base = str(tmp_path / "versioned")
    manifests = build_versioned_table(spark, sf, base)
    assert renames == []
    assert all(os.path.isdir(f) for f in manifests[1])
    assert spark.read.parquet(*manifests[1]).count() == TT_BUCKETS - 3
    assert not [f for f in os.listdir(base) if f.startswith("_stage_")]


def test_versioned_table_removes_stage_when_a_rename_fails(spark, tmp_path, monkeypatch):
    """A failure part-way through the bucket renames still removes the
    ``_stage_v*`` dir."""
    import os

    import pytest

    from block_data_fetcher_spark.storage import TT_BUCKETS, build_versioned_table

    sf = _tiny_events(spark, tmp_path, range(2 * TT_BUCKETS))
    real_rename = os.rename
    calls = []

    def failing_rename(a, b):
        calls.append(a)
        if len(calls) == 2:
            raise OSError("injected rename failure")
        real_rename(a, b)

    monkeypatch.setattr(os, "rename", failing_rename)
    base = str(tmp_path / "versioned")
    with pytest.raises(OSError, match="injected"):
        build_versioned_table(spark, sf, base)
    assert len(calls) == 2
    assert not [f for f in os.listdir(base) if f.startswith("_stage_")]


def test_partition_evolution_prunes_both_specs(spark, sf_dir):
    """The evolved table must prune in BOTH layouts: the history
    branch by event_date directories, the new branch by event_week
    directories — a range query never lists non-matching partitions
    of either spec."""
    import os

    from block_data_fetcher_spark import api
    from block_data_fetcher_spark.plans.explain import formatted_plan

    import block_data_fetcher_spark.storage as storage_mod

    api.queries()["q_partition_evolution"](spark, sf_dir).collect()
    from block_data_fetcher_spark.scratch import scratch_dir

    root = scratch_dir(spark, "storage", "events_evolving_spec")
    from pyspark.sql import functions as F

    daily = spark.read.parquet(os.path.join(root, "daily")).where(
        (F.col("event_date") >= F.lit("2024-01-10").cast("date"))
        & (F.col("event_date") <= F.lit("2024-01-15").cast("date"))
    )
    plan_d = formatted_plan(daily)
    assert "PartitionFilters" in plan_d and "event_date" in plan_d
    weekly = spark.read.parquet(os.path.join(root, "weekly")).where(
        F.col("event_week") >= F.lit(3)
    )
    plan_w = formatted_plan(weekly)
    assert "PartitionFilters" in plan_w and "event_week" in plan_w
