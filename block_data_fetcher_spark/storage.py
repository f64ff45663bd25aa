"""Production table layout: partitioned writes, bucketed co-located
joins, and skew salting — the engine's answer to the reference's index
set (SURVEY §4.1).

The reference encodes its query workload as PostgreSQL B-tree/GIN
indexes (``migrations/20251023000002_create_transactions.sql:36-41``
etc.); at 100 TB the analogs are physical layout choices:

- time-range index  → hive-style **partition columns** (partition
  pruning: a day-scoped query touches one directory of thousands);
- FK join index     → **bucketing** on the join key (two tables
  bucketed the same way join with NO shuffle exchange on either side);
- hot-key contention → **salting** (two-stage aggregation: partial agg
  on (key, salt) spreads a dominant key over N reducers; algebraic
  aggregates re-combine exactly).

Everything here is exercised by ``tests/test_storage.py`` with plan
assertions (PartitionFilters on pruned scans, zero Exchange under a
bucketed join, two HashAggregate stages under salting).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .scratch import scratch_dir
from pyspark.storagelevel import StorageLevel

# Storage level for iterative-loop state frames (CC edge sets, BFS
# frontiers, k-means assignments, equi-depth counts): SERIALIZED with
# disk overflow. localCheckpoint()'s default stores DESERIALIZED rows
# on-heap — at sf100 the CC edge frame alone blew a 32 GiB heap
# (r7); serialized blocks are several-fold smaller and degrade to
# disk instead of OOMing the context. On a real cluster the same
# level applies to the reliable checkpoint dir story.
ITER_STORAGE = StorageLevel.MEMORY_AND_DISK


def iter_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut lineage for iterative-loop state (CC label frames, BFS
    frontiers, k-means assignments) in a CLUSTER-SAFE way (VERDICT r8
    next-round item 3).

    ``localCheckpoint`` is the right tool in local mode: blocks live in
    the one executor process, which IS the driver process, so "executor
    loss" and "job loss" are the same event and the truncated lineage
    costs nothing. On a real cluster the same call is a trap — the
    checkpointed blocks live only on their executors, and a single lost
    executor makes the job UNRECOVERABLE because the lineage needed to
    recompute them was discarded. The opposite of the 100×-scale
    intent.

    Policy, in order:

    1. A reliable checkpoint dir is configured
       (``sc.setCheckpointDir`` or ``spark.checkpoint.dir``) →
       ``df.checkpoint(eager=...)``: state lands on fault-tolerant
       storage (HDFS/S3 on a cluster), executor loss is survivable,
       lineage truncation is safe.
    2. No dir, but the master is pure local (``local[*]``, NOT
       ``local-cluster``) → ``localCheckpoint`` with serialized
       MEMORY_AND_DISK blocks (the r7 OOM fix).
    3. No dir on a distributed master → fail FAST at plan time with
       the fix in the message, rather than silently planting an
       unrecoverable-job landmine that detonates hours into a 100 TB
       run.

    No persist-before-checkpoint is needed on the reliable path:
    Spark 4's ``Dataset.checkpoint`` computes the input exactly once
    (verified empirically with an accumulator probe — 100 evals for a
    100-row input, eager and lazy alike), unlike the raw
    ``RDD.checkpoint`` whose write recomputes unpersisted lineage.

    Every iterative operator in the engine routes through here; do not
    call ``localCheckpoint`` directly in loop bodies."""
    spark = df.sparkSession
    sc = spark.sparkContext
    try:
        ckpt_dir = sc.getCheckpointDir()
    except Exception:  # very old APIs: fall through to master check
        ckpt_dir = None
    if not ckpt_dir:
        # Runtime conf first (a live spark.conf.set("spark.checkpoint.
        # dir", ...) — sc.getConf() is a SNAPSHOT of the conf at context
        # creation and never sees it; ADVICE r9), then the startup conf.
        try:
            conf_dir = spark.conf.get("spark.checkpoint.dir", None)
        except Exception:
            conf_dir = None
        if not conf_dir:
            conf_dir = sc.getConf().get("spark.checkpoint.dir", None)
        if conf_dir:
            sc.setCheckpointDir(conf_dir)
            ckpt_dir = conf_dir
    if ckpt_dir:
        return df.checkpoint(eager=eager)
    master = sc.master or ""
    if master.startswith("local") and not master.startswith("local-cluster"):
        return df.localCheckpoint(eager=eager, storageLevel=ITER_STORAGE)
    raise RuntimeError(
        "iterative operators need a reliable checkpoint dir on a "
        f"distributed master ({master!r}): call "
        "sc.setCheckpointDir('<fault-tolerant path>') or set "
        "spark.checkpoint.dir. localCheckpoint on a cluster loses "
        "blocks with a dead executor AND has no lineage to recompute "
        "them — an unrecoverable job."
    )


def write_partitioned(df: DataFrame, path: str, partition_cols: Sequence[str]) -> None:
    """Hive-layout parquet write. ``spark.read.parquet(path)`` on the
    result gets partition pruning for free: Catalyst turns filters on
    ``partition_cols`` into directory-level PartitionFilters, so a
    selective query never opens non-matching files."""
    df.write.partitionBy(*partition_cols).mode("overwrite").parquet(path)


def with_event_date(df: DataFrame) -> DataFrame:
    """Standard time-partition column: ``date(ts)`` — the engine's
    analog of the reference's ``idx_blocks_block_time``
    (``migrations/20251023000001_create_blocks.sql:22-24``)."""
    return df.withColumn("event_date", F.to_date(F.col("ts")))


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
    path: str | None = None,
) -> None:
    """Bucketed table: rows are hash-distributed into ``n_buckets``
    files by ``bucket_cols`` at WRITE time, sorted by them within each
    file, so any equi-join or aggregation on those columns later runs
    with no shuffle — the co-located-join contract for repeated
    fact⋈fact joins (lineitem⋈orders here; transactions⋈instructions
    in the reference's schema).

    ``path`` makes it an EXTERNAL table at an explicit location —
    use it when the caller must control where data lands (the
    session's warehouse dir follows the launching process's cwd)."""
    writer = df.write.bucketBy(n_buckets, *bucket_cols).sortBy(*bucket_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.mode("overwrite").format("parquet").saveAsTable(table_name)


def salt_column(key: Column, n_salts: int, entropy: Column) -> Column:
    """Deterministic salt in [0, n_salts): spreads one hot key over
    ``n_salts`` reducers. ``entropy`` is any column uncorrelated with
    the key (a row id); deterministic so retried tasks re-salt
    identically (Spark task retries must be idempotent)."""
    return F.pmod(F.xxhash64(entropy), F.lit(n_salts)).cast("int")


def salted_sum_count(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    n_salts: int,
    entropy_col: str,
) -> DataFrame:
    """Skew-safe ``groupBy(key).agg(sum, count)`` as two-stage
    aggregation: partial on (key, salt) — at most ``n_salts`` rows per
    key reach the final stage, no reducer sees a whole hot key.

    Sum/count are algebraic (partials re-combine exactly); avg etc.
    derive from them. This is what AQE's skew mitigation cannot do for
    aggregations (it only splits skewed JOIN partitions) — salting is
    the aggregation-side answer."""
    salt = salt_column(F.col(key_cols[0]), n_salts, F.col(entropy_col))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*key_cols, "_salt")
        .agg(
            F.sum(value_col).alias("_psum"),
            F.count("*").alias("_pcnt"),
        )
    )
    return partial.groupBy(*key_cols).agg(
        F.sum("_psum").alias(f"sum_{value_col}"),
        F.sum("_pcnt").alias("cnt"),
    )


def zorder_key(
    cols: Sequence[Column], bits: int = 8
) -> Column:
    """Z-order (Morton) interleave of per-column bucket ids — the
    multi-dimensional clustering key behind Delta's OPTIMIZE ZORDER /
    Iceberg's sort orders, as a pure expression.

    Each input must already be an integer bucket id in [0, 2^bits)
    (see :func:`linear_bucket`). Sorting a table by this key clusters
    rows so that EVERY interleaved dimension gets tight min/max spans
    per file/row-group — a 2-D selective query prunes row groups on
    both predicates, where a single-column sort only prunes on the
    leading column. Bit interleave is shiftleft/bitwiseOR — codegen'd,
    no shuffle beyond the write-time range partition."""
    key = F.lit(0).cast("long")
    n = len(cols)
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, b * n + i))
    return key


def linear_bucket(c: Column, lo: float, hi: float, bits: int = 8) -> Column:
    """Map a numeric column into [0, 2^bits) by linear binning —
    the cheap shuffle-free quantizer for :func:`zorder_key` (production
    systems use sampled quantiles for skewed columns; the interleave is
    identical either way)."""
    n = 1 << bits
    scaled = ((c - lo) / (hi - lo) * n).cast("long")
    return F.least(F.greatest(scaled, F.lit(0)), F.lit(n - 1))


def write_zordered(
    df: DataFrame,
    path: str,
    zkey: Column,
    n_files: int = 8,
) -> None:
    """Range-partition by the z-key and sort within partitions before
    writing: each output file covers a contiguous z-range, so its
    parquet min/max stats are tight on every interleaved dimension."""
    (
        df.withColumn("__z", zkey)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def repartition_for_write(df: DataFrame, partition_cols: Sequence[str]) -> DataFrame:
    """Pre-shuffle so each hive partition is written by one task —
    avoids the tiny-files problem (every task writing every partition
    yields tasks x partitions files; at 1000 executors that is the
    difference between 10^3 and 10^6 files per day)."""
    return df.repartition(*partition_cols)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    n_salts: int,
    entropy_col: str,
) -> DataFrame:
    """Skew-safe equi join for a dimension too big to broadcast: the
    dimension is replicated ``n_salts`` ways, the fact side gets a
    deterministic salt from ``entropy_col``, and the join key becomes
    (key, salt) — a hot fact key is spread over ``n_salts`` reducers
    instead of melting one. Replication multiplies the dim shuffle by
    ``n_salts``, so size the salt count to the observed skew, not
    higher. AQE's skew-join split handles post-shuffle partition skew;
    explicit salting is the answer when a SINGLE key exceeds one
    reducer (AQE cannot split one key)."""
    rep = dim.withColumn(
        "_dsalt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    salted = fact.withColumn(
        "_fsalt", salt_column(F.col(fact_key), n_salts, F.col(entropy_col))
    )
    return (
        salted.join(
            rep,
            (salted[fact_key] == rep[dim_key])
            & (salted["_fsalt"] == rep["_dsalt"]),
        )
        .drop("_fsalt", "_dsalt")
    )


def q_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The time-partitioned landing table end to end: events written
    hive-partitioned by ``event_date`` (pre-shuffled so each day is
    one file, not |tasks| files), read back with a day-range filter
    that prunes to the matching directories (PartitionFilters in the
    scan — plan-gated), then aggregated. The oracle computes the same
    aggregate from the original parquet, proving the partitioned
    layout is lossless and the pruned read complete."""
    import os

    from .catalog import table

    path = scratch_dir(spark, "storage", "events_by_date")
    ev = with_event_date(table(spark, sf_dir, "events"))
    write_partitioned(
        repartition_for_write(ev, ["event_date"]), path, ["event_date"]
    )
    back = spark.read.parquet(path).where(
        (F.col("event_date") >= F.lit("2024-01-05").cast("date"))
        & (F.col("event_date") <= F.lit("2024-01-09").cast("date"))
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def erase_partitions(
    spark: SparkSession,
    path: str,
    doomed: Column,
    affected_days: list,
) -> None:
    """Rewrite the ``event_date`` partitions listed in ``affected_days`` with
    the rows matching ``doomed`` removed.

    Dynamic partition overwrite only replaces partitions PRESENT in
    the written frame — if every row of an affected day is doomed,
    the cleaned frame has no rows for that day, the overwrite never
    touches it, and the deleted data would silently survive. So after
    the rewrite, any affected partition directory absent from the
    cleaned frame is deleted explicitly (partition-metadata-sized
    work: the same listing a metastore DROP PARTITION does)."""
    import os
    import shutil

    store = spark.read.parquet(path)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        cleaned = store.where(
            F.col("event_date").isin(affected_days) & ~doomed
        )
        # partition list of the cleaned frame, collected BEFORE the
        # overwrite mutates the files `cleaned` lazily reads from
        surviving = {
            r["event_date"]
            for r in cleaned.select("event_date").distinct().collect()
        }
        repartition_for_write(cleaned, ["event_date"]).write.partitionBy(
            "event_date"
        ).mode("overwrite").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    for day in affected_days:
        if day not in surviving:
            part_dir = os.path.join(path, f"event_date={day}")
            shutil.rmtree(part_dir, ignore_errors=True)


def q_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure over the partitioned landing store: given a
    deletion set of users (deterministic rule `user_id % 97 == 0`,
    standing in for a GDPR request table), rewrite ONLY the hive
    partitions that contain their rows — an anti-join per affected
    day — and leave every other partition's files untouched.

    The 100 TB story: erasure requests touch a tiny fraction of days;
    dynamic partition overwrite (`partitionOverwriteMode=dynamic`)
    replaces exactly the partitions present in the written frame, so
    the rewrite cost is O(affected partitions), not O(table). The
    affected-day list is derived from the delete candidates and
    collected driver-side — partition *metadata*, the same cardinality
    a metastore listing has. The returned aggregate reads the WHOLE
    store back, proving deleted users are gone everywhere and
    untouched partitions survived; the oracle computes the same
    aggregate from the original parquet minus the delete set."""
    import os

    from .catalog import table

    path = scratch_dir(spark, "storage", "events_gdpr")
    ev = with_event_date(table(spark, sf_dir, "events"))
    write_partitioned(repartition_for_write(ev, ["event_date"]), path, ["event_date"])

    store = spark.read.parquet(path)
    doomed = F.col("user_id") % 97 == 0
    affected_days = [
        r["event_date"]
        for r in store.where(doomed).select("event_date").distinct().collect()
    ]
    erase_partitions(spark, path, doomed, affected_days)

    back = spark.read.parquet(path)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def q_zorder_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order-clustered sink end to end: events written sorted by the
    Morton interleave of (user_id, value) buckets, read back with a
    2-D selective predicate, aggregated. The data-skipping win is
    measured in tests/test_storage.py on actual row-group min/max
    stats; THIS entry proves the clustered layout is lossless — the
    oracle computes the same filtered aggregate from the original
    parquet.

    At 100 TB this layout is the B-tree substitute for multi-dimension
    point/range lookups: one range shuffle at write time, then every
    (user, value) query prunes files on BOTH predicates."""
    import os

    from .catalog import table

    path = scratch_dir(spark, "storage", "events_zorder")
    ev = table(spark, sf_dir, "events")
    zk = zorder_key(
        [
            linear_bucket(F.col("user_id").cast("double"), 0.0, 20000.0),
            linear_bucket(F.col("value"), 0.0, 1000.0),
        ]
    )
    write_zordered(ev.select("event_id", "user_id", "event_type", "value"), path, zk)
    # predicate chosen NON-VACUOUS at every fixture scale (r6: the
    # original `value > 900` matched zero rows anywhere — events top
    # out ~560 — so the lossless-readback proof proved nothing);
    # ~0.3% selective, 26 rows even at sf0.001
    back = spark.read.parquet(path).where(
        (F.col("user_id") % 100 < 10) & (F.col("value") > 150.0)
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact⋈fact join end to end: orders and lineitem are
    written as managed tables bucketed 8 ways on the order key, then
    joined and aggregated. Because both sides' bucket layout already
    satisfies the join's required distribution, the sort-merge join
    runs with NO Exchange on either side (plan-gated in
    tests/test_storage.py) — the engine's answer to the reference's
    B-tree FK indexes (``migrations/20251023000002_create_transactions
    .sql:36-41``): at 100 TB you pay the shuffle once at write time
    and every subsequent join on the key is shuffle-free.

    The merge hint pins the bucketed SMJ path (without it, AQE would
    happily broadcast at fixture scale and the physical claim being
    demonstrated — co-location — would never be exercised)."""
    import os
    import shutil
    from urllib.parse import urlparse

    from .catalog import table

    # External tables at session-keyed repo locations (scratch_dir):
    # the in-memory session catalog forgets tables across processes
    # while their directories survive (saveAsTable refuses to reuse a
    # live location), and a MANAGED table would land in the launching
    # process's cwd/spark-warehouse — outside this repo when the
    # external driver runs from elsewhere. Drop stale entries +
    # directories, then pin the data under this run's scratch root.
    # (Table NAMES need no run key: each process has its own in-memory
    # catalog, so concurrent sessions can't see each other's entries.)
    base = scratch_dir(spark, "storage")
    for name in ("bdf_orders_bkt", "bdf_lineitem_bkt"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(os.path.join(base, name), ignore_errors=True)
        # pre-r3 runs wrote these as managed tables in the session
        # warehouse — clear that location too so reruns don't collide
        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        shutil.rmtree(os.path.join(warehouse, name), ignore_errors=True)

    write_bucketed(
        table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
        "bdf_orders_bkt",
        ["o_orderkey"],
        8,
        path=os.path.join(base, "bdf_orders_bkt"),
    )
    write_bucketed(
        table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("o_orderkey"),
            "l_extendedprice",
            "l_discount",
        ),
        "bdf_lineitem_bkt",
        ["o_orderkey"],
        8,
        path=os.path.join(base, "bdf_lineitem_bkt"),
    )
    li = spark.table("bdf_lineitem_bkt")
    orders = spark.table("bdf_orders_bkt")
    return (
        li.hint("merge")
        .join(orders, "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


TT_SPLIT = "2024-01-15"  # v1 = totals before this instant; v2 = full month
TT_BUCKETS = 8


def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-isolated versioned table with time travel — the
    Delta/Iceberg mechanism built from primitives: a keyed per-user
    totals table stored as TT_BUCKETS hash-bucket files plus one
    MANIFEST per version listing exactly the live files. Version 2
    commits a late correction batch (bucket-0 users re-stated with
    their full-month activity) COPY-ON-WRITE: only buckets containing
    changed users are rewritten; unchanged buckets' v1 files are
    listed verbatim in the v2 manifest (file reuse is asserted in
    tests/test_storage.py). Reading "as of v1" is just
    `spark.read.parquet(*manifest(v1))` — no tombstones, no
    read-time merge, old versions immutable until vacuumed.

    At 100 TB this is precisely the table-format contract: writers
    commit a new manifest atomically (the existing write-temp-swap
    helper), readers pin a manifest and see a consistent snapshot,
    and COW bounds each commit's write amplification to the touched
    buckets. The query returns both versions' aggregates read
    THROUGH their manifests; the oracle recomputes them straight
    from events, proving both snapshots are exact."""
    import os

    base = scratch_dir(spark, "storage", "user_totals_versioned")
    manifests = build_versioned_table(spark, sf_dir, base)
    out = None
    for version, files in manifests.items():
        snap = (
            spark.read.parquet(*files)
            .agg(
                F.count("*").alias("n_users"),
                F.sum("n_events").alias("n_events"),
                F.round(F.sum("total_value"), 2).alias("sum_total"),
            )
            .select(F.lit(version).alias("version"), "*")
        )
        out = snap if out is None else out.unionByName(snap)
    return out.orderBy("version")


def build_versioned_table(
    spark: SparkSession, sf_dir: str, base: str
) -> dict:
    """The q_time_travel table build, extracted for reuse (q_vacuum
    expires old versions of the same layout). Returns {version:
    [live files]} and writes manifest.json under ``base``."""
    import json
    import os

    from .catalog import table

    ev = table(spark, sf_dir, "events").select(
        "user_id", "value", "ts", (F.col("user_id") % TT_BUCKETS).alias("bucket")
    )
    split = F.lit(TT_SPLIT).cast("timestamp")

    def totals(df: DataFrame) -> DataFrame:
        return df.groupBy("bucket", "user_id").agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )

    def write_buckets(df: DataFrame, version: int, buckets: list[int]) -> dict:
        files = {
            b: os.path.join(base, f"b{b}_v{version}.parquet") for b in buckets
        }

        def write_filtered(b: int) -> None:
            df.where(F.col("bucket") == b).coalesce(1).write.mode(
                "overwrite"
            ).parquet(files[b])

        if len(buckets) == 1:
            # The COW commit path (one changed bucket): a filtered
            # write reads less than a partitioned write would.
            write_filtered(buckets[0])
            return files
        # Full-version commit: ONE partitioned write instead of one
        # filtered write job per bucket (r16, guide §2.4/§6). `bucket`
        # derives from user_id % TT_BUCKETS — not pushable to the scan
        # — so the per-bucket loop re-scanned and re-aggregated the
        # whole events table TT_BUCKETS times (8x read amplification
        # at any scale). A duplicated partition column keeps `bucket`
        # in the data files (partitionBy strips its own column), and
        # repartition by it lands each bucket in exactly one task =
        # one part-file per bucket dir, the same layout as before; the
        # staged dirs are then renamed to the manifest's b{b}_v{v}
        # names. An empty bucket writes no staged dir: then no bucket
        # is renamed and every one takes the old filtered write, so the
        # manifest never references a missing path. The stage dir is
        # removed whatever happens.
        import shutil

        stage = os.path.join(base, f"_stage_v{version}")
        try:
            (
                df.where(F.col("bucket").isin(buckets))
                .withColumn("_pb", F.col("bucket"))
                .repartition(TT_BUCKETS, "_pb")
                .write.partitionBy("_pb")
                .mode("overwrite")
                .parquet(stage)
            )
            staged = {b: os.path.join(stage, f"_pb={b}") for b in buckets}
            complete = all(os.path.isdir(d) for d in staged.values())
            for b in buckets:
                if os.path.isdir(files[b]):
                    shutil.rmtree(files[b])
                if complete:
                    os.rename(staged[b], files[b])
                else:
                    write_filtered(b)
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        return files

    v1 = totals(ev.where(F.col("ts") < split))
    v1_files = write_buckets(v1, 1, list(range(TT_BUCKETS)))

    # The v2 commit is a late correction batch re-stating bucket-0
    # users with their full-month activity; every other bucket is
    # untouched, so COW rewrites exactly one file and the v2 manifest
    # reuses the other TT_BUCKETS-1 v1 files verbatim.
    delta = ev.where((F.col("ts") >= split) & (F.col("bucket") == 0))
    changed = sorted(
        r["bucket"] for r in delta.select("bucket").distinct().collect()
    )  # bounded: ≤ TT_BUCKETS rows; == [0] whenever the delta is non-empty
    v2 = totals(ev.where((F.col("ts") < split) | (F.col("bucket") == 0)))
    v2_files = dict(v1_files)
    v2_files.update(write_buckets(v2, 2, changed))

    manifests = {1: sorted(v1_files.values()), 2: sorted(v2_files.values())}
    with open(os.path.join(base, "manifest.json"), "w") as f:
        json.dump(manifests, f)
    return manifests


def vacuum_versions(base: str, manifests: dict, keep: int) -> int:
    """Expire every version below ``keep``: delete data files not
    referenced by any surviving manifest and rewrite manifest.json.
    Pure METADATA + unlink work (the Delta VACUUM / Iceberg
    expire_snapshots contract: time travel ends at the retention
    horizon, storage is reclaimed, surviving snapshots untouched).
    Returns the number of files deleted."""
    import json
    import os
    import shutil

    live = {f for v, fs in manifests.items() if v >= keep for f in fs}
    dead = {
        f for v, fs in manifests.items() if v < keep for f in fs
    } - live
    for f in sorted(dead):
        shutil.rmtree(f, ignore_errors=True)
    surviving = {v: fs for v, fs in manifests.items() if v >= keep}
    with open(os.path.join(base, "manifest.json"), "w") as fh:
        json.dump(surviving, fh)
    return len(dead)


def q_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention vacuum over the versioned table: build the two-version
    COW layout, expire version 1, verify the CURRENT snapshot still
    reads exactly (the oracle recomputes it from raw events), and
    report how many files were reclaimed. Only files referenced
    EXCLUSIVELY by expired manifests are deleted — the shared COW
    buckets that v2 reuses from v1 must survive, which is the subtle
    invariant real VACUUM implementations get wrong first."""
    import os

    base = scratch_dir(spark, "storage", "user_totals_vacuum")
    manifests = build_versioned_table(spark, sf_dir, base)
    n_expired = vacuum_versions(base, manifests, keep=2)
    snap = spark.read.parquet(*manifests[2])
    return snap.agg(
        F.count("*").alias("n_users"),
        F.sum("n_events").alias("n_events"),
        F.round(F.sum("total_value"), 2).alias("sum_total"),
    ).select(
        "*", F.lit(n_expired).cast("long").alias("n_files_expired")
    )


def list_data_files(path: str) -> list[tuple[str, int]]:
    """(file, size) pairs for the parquet data files under ``path`` —
    driver-side METADATA listing (what a table format's manifest or a
    metastore gives for free), never data."""
    import os

    out = []
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out.append((p, os.path.getsize(p)))
    return sorted(out)


def compact_table(
    spark: SparkSession, src: str, dst: str, target_bytes: int
) -> tuple[int, int]:
    """Bin-pack a fragmented parquet table into ~``target_bytes``
    output files (the OPTIMIZE/compaction maintenance job every
    streaming ingest needs: micro-batches leave thousands of tiny
    files whose per-file open/footer cost eventually dominates scans).

    The output file count is sized from the REAL on-disk byte total
    (manifest-style metadata listing), and the rewrite uses
    ``coalesce`` — a shuffle-FREE merge of input splits into fewer
    tasks — so compaction cost is one read + one write, no exchange.
    ``coalesce`` cannot add tasks, and the reader packs small files
    into about one split per core, so the files are dealt into
    ``n_out`` groups and each group is read on its own: the union has
    at least ``n_out`` splits, whatever the core count. A table is
    never compacted into more files than it has. At 100 TB this runs
    per partition (each day compacts independently, preserving
    partition pruning); here the single-dir case keeps the plan
    inspectable. Returns (files_before, files_after)."""
    from functools import reduce

    files = list_data_files(src)
    total = sum(sz for _, sz in files)
    n_out = min(len(files), max(1, -(-total // target_bytes)))  # ceil div
    reader = spark.read.schema(spark.read.parquet(src).schema).option("basePath", src)
    groups = [reader.parquet(*[f for f, _ in files[i::n_out]]) for i in range(n_out)]
    reduce(DataFrame.unionByName, groups).coalesce(n_out).write.mode("overwrite").parquet(dst)
    return len(files), len(list_data_files(dst))


def q_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction end to end: land events as 64 deliberately
    tiny files (a stand-in for micro-batch ingest fragmentation),
    bin-pack them into size-targeted files via the shuffle-free
    ``coalesce`` rewrite, and prove losslessness by aggregating the
    compacted table against the oracle's direct aggregate. The
    before/after file counts are asserted in tests/test_storage.py
    (compacted count must match the byte-budget math, and the rewrite
    plan must contain no Exchange)."""
    import os

    from .catalog import table

    base = scratch_dir(spark, "storage")
    frag, packed = os.path.join(base, "events_frag"), os.path.join(
        base, "events_compacted"
    )
    ev = table(spark, sf_dir, "events")
    ev.repartition(64).write.mode("overwrite").parquet(frag)
    compact_table(spark, frag, packed, target_bytes=8 << 20)
    back = spark.read.parquet(packed)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.count_distinct("user_id").alias("n_users"),
        F.round(F.sum("value") + F.lit(1e-9), 2).alias("sum_value"),
    )


PE_SPLIT = "2024-01-16"  # layout change date: daily before, monthly after


def q_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec EVOLUTION — the Iceberg capability plain hive
    layouts lack, built from primitives: history landed day-partitioned
    proves too granular, so from 2024-01-16 the table switches to
    week partitions WITHOUT rewriting history. Old files stay under
    event_date=..., new files land under event_week=...; a reader
    view unions the two layouts behind one schema, and a time-range
    query prunes in BOTH (PartitionFilters on each branch — asserted
    in tests/test_storage.py). The aggregate over the union proves the
    two-spec table is lossless; the oracle recomputes it from raw.

    At 100 TB this is the difference between a metadata-only spec
    change and a multi-day table rewrite: evolution costs zero data
    bytes, and every query pays only the pruning predicate translation
    (here: date range → day dirs on one side, week dirs on the
    other)."""
    import os

    from .catalog import table

    base = scratch_dir(spark, "storage", "events_evolving_spec")
    ev = with_event_date(table(spark, sf_dir, "events"))
    split = F.lit(PE_SPLIT).cast("date")
    old = ev.where(F.col("event_date") < split)
    new = ev.where(F.col("event_date") >= split).withColumn(
        "event_week", F.weekofyear("event_date")
    )
    write_partitioned(
        repartition_for_write(old, ["event_date"]),
        os.path.join(base, "daily"),
        ["event_date"],
    )
    write_partitioned(
        repartition_for_write(new, ["event_week"]),
        os.path.join(base, "weekly"),
        ["event_week"],
    )
    daily = spark.read.parquet(os.path.join(base, "daily"))
    weekly = spark.read.parquet(os.path.join(base, "weekly"))
    # the reader view: one logical table over both specs; the range
    # predicate lands as a PartitionFilter on event_date for history
    # and as an event_week filter (translated from the same range)
    # for the new layout
    lo, hi = "2024-01-10", "2024-01-20"
    lo_week = spark.sql(
        f"SELECT weekofyear(DATE'{PE_SPLIT}') AS w"
    ).head()["w"]
    part_old = daily.where(
        (F.col("event_date") >= F.lit(lo).cast("date"))
        & (F.col("event_date") <= F.lit(hi).cast("date"))
    ).select("event_type", "value", "event_date")
    part_new = (
        weekly.where(F.col("event_week") >= F.lit(int(lo_week)))
        .where(
            (F.col("event_date") >= F.lit(lo).cast("date"))
            & (F.col("event_date") <= F.lit(hi).cast("date"))
        )
        .select("event_type", "value", "event_date")
    )
    return (
        part_old.unionByName(part_new)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value") + F.lit(1e-9), 2).alias("sum_value"),
        )
    )


def q_skew_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics — the measurement that decides when
    the salting machinery (salted_join / salted_sum_count) is worth
    its replication cost: for each candidate join key, the share of
    rows held by the hottest key, the top-1/median frequency ratio,
    and a skewed flag (hottest key > 4× the uniform share). One
    map-side-combinable count per key column plus rank windows over
    the frequency table; at 100 TB this runs as a profiling pass
    before every new pipeline's first full-scale join.

    The r7 KNOWN LIMIT (global rank window = single-partition sort of
    a corpus-sized frequency table for high-cardinality keys like
    l_orderkey) is closed in r8 by a frequency-of-frequencies rollup:
    the median OF COUNTS only needs the distribution of count VALUES,
    so a second groupBy collapses the per-key table to (n, #keys with
    that n) — a handful of rows at any corpus size (counts are small
    integers; even a pathological key has ≤ |distinct n| ≪ |keys|
    rows here). The cumulative-rank window then runs over that tiny
    frame; the median stays EXACT (smallest n whose cumulative key
    count reaches half), which the DuckDB oracle pins. Both
    aggregations are map-side combinable; nothing corpus-sized is
    ever sorted on one partition.

    The fixture's keys are uniform-ish, so the flags read false —
    the point is the measurement contract, and the exact medians use
    the same rank arithmetic as q_anomaly_mad."""
    from pyspark.sql import Window

    from .catalog import table

    specs = [
        ("events.user_id", table(spark, sf_dir, "events").select(
            F.col("user_id").cast("string").alias("k"))),
        ("events.event_type", table(spark, sf_dir, "events").select(
            F.col("event_type").alias("k"))),
        ("lineitem.l_orderkey", table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").cast("string").alias("k"))),
        ("orders.o_custkey", table(spark, sf_dir, "orders").select(
            F.col("o_custkey").cast("string").alias("k"))),
    ]
    outs = []
    for name, df in specs:
        freq = df.groupBy("k").agg(F.count("*").alias("n"))
        fof = freq.groupBy("n").agg(F.count("*").alias("kn"))
        w_cum = (
            Window.orderBy("n")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_all = Window.partitionBy()
        ranked = fof.select(
            "n",
            F.sum("kn").over(w_cum).alias("cum"),
            F.sum("kn").over(w_all).alias("n_keys"),
            F.sum(F.col("n") * F.col("kn")).over(w_all).alias("n_rows"),
            F.max("n").over(w_all).alias("top_n"),
        )
        med = ranked.where(F.col("cum") * 2 >= F.col("n_keys")).agg(
            F.min("n").alias("median_n"),
            F.max("n_keys").alias("n_keys"),
            F.max("n_rows").alias("n_rows"),
            F.max("top_n").alias("top_n"),
        )
        outs.append(
            med.select(
                F.lit(name).alias("key"),
                "n_keys",
                (
                    F.round(
                        F.col("top_n") / F.col("n_rows") * 100 + F.lit(1e-9),
                        4,
                    )
                    + 0.0
                ).alias("top_share_pct"),
                (
                    F.round(
                        F.col("top_n") / F.col("median_n") + F.lit(1e-9), 4
                    )
                    + 0.0
                ).alias("top_over_median"),
                (
                    F.col("top_n") * F.col("n_keys")
                    > 4 * F.col("n_rows")
                ).alias("skewed"),
            )
        )
    from functools import reduce

    return reduce(lambda x, y: x.unionByName(y), outs)


def q_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudonymization with referential integrity — the GDPR
    data-minimization twin of q_gdpr_erasure's deletion: user_id is
    replaced by a keyed sha256 token (first 16 hex chars) in BOTH the
    events fact and the derived per-user dimension, and the query
    proves analytics still work on tokens alone: the fact⋈dim join on
    the TOKEN reproduces the per-user rollup exactly (same count and
    revenue per token as the raw join would give per user), with zero
    raw ids in the output. Deterministic keyed hashing (a salt
    literal, not random) is what keeps tokens stable across batches —
    the same property the idempotent sinks rely on.

    Scale: the hash is a scan-side projection (codegen sha2); the join
    shuffles on the token exactly as it would on the raw key — same
    plan, no information. Token truncation to 64 bits keeps shuffle
    keys narrow; collision odds at 10^9 users are ~3e-2 per birthday
    bound and a production system widens to the full digest."""
    from .catalog import table

    ev = table(spark, sf_dir, "events")
    token = F.substring(
        F.sha2(F.concat(F.lit("pepper-v1:"), F.col("user_id").cast("string")), 256),
        1,
        16,
    )
    fact = ev.select(
        token.alias("token"), "event_type", "value"
    )
    dim = (
        ev.select(token.alias("token"), "user_id")
        .groupBy("token")
        .agg(F.count("*").alias("n_events"))
    )
    return (
        fact.join(dim, "token")
        .groupBy("token", "n_events")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("value") + F.lit(1e-9), 2).alias("revenue"),
        )
        .select("token", "n_events", "n_rows", "revenue")
    )


def q_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period growth — the BI staple: weekly revenue per
    event type with previous-week comparison and percent change
    (NULL on the first week, try-division guards a zero prior). One
    weekly rollup (map-side combinable) then a lag window over the
    REDUCED (type, week) table — the window sorts dozens of rows, not
    events."""
    from .catalog import table

    ev = table(spark, sf_dir, "events")
    weekly = ev.groupBy(
        "event_type", F.weekofyear("ts").alias("week")
    ).agg(F.round(F.sum("value") + F.lit(1e-9), 2).alias("revenue"))
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("week")
    return weekly.select(
        "event_type",
        "week",
        "revenue",
        F.lag("revenue").over(w).alias("prev_revenue"),
        (
            F.round(
                (F.col("revenue") - F.lag("revenue").over(w))
                / F.lag("revenue").over(w)
                * 100
                + F.lit(1e-9),
                2,
            )
            + 0.0
        ).alias("pct_change"),
    )


def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a landed table: generation 1 writes a
    3-column projection; generation 2 appends the same shape PLUS a
    new ``channel`` column (the additive-column migration every
    long-lived table goes through). ``mergeSchema=true`` reconciles
    the footers at read time — generation-1 rows surface NULL for the
    new column, no rewrite of old files. The aggregate groups by
    ``coalesce(channel, 'legacy')`` proving both generations coexist.

    Scale: schema merge is FOOTER metadata work (one schema per file,
    reconciled on the driver) — no data files are touched, which is
    the point: at 100 TB an additive migration costs zero bytes of
    rewrite. (Production hardening: pin mergeSchema per-table, since
    footer-sampling every query has listing cost.)"""
    import os

    from .catalog import table

    path = scratch_dir(spark, "storage", "events_evolving")
    ev = table(spark, sf_dir, "events")
    gen1 = ev.where(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id", "value"
    )
    gen2 = ev.where(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "value", F.col("event_type").alias("channel")
    )
    gen1.write.mode("overwrite").parquet(path)
    gen2.write.mode("append").parquet(path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    return merged.groupBy(
        F.coalesce(F.col("channel"), F.lit("legacy")).alias("channel")
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("value") + F.lit(1e-9), 2).alias("sum_value"),
    )


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture apply: materialize the current snapshot
    from an ordered I/U/D op log (the Debezium/DMS feed shape every
    lakehouse ingests). Ops are keyed by user_id, ordered by (ts,
    event_id); a deterministic rule marks every 11th event a DELETE.
    Snapshot semantics: the LAST op per key wins — a trailing delete
    removes the key entirely; otherwise the key carries the last
    value, plus audit counts of how many ops/deletes were folded.

    Scale: one shuffle on the key (the same exchange the upsert sink
    S6 uses); the rank-then-filter is WindowGroupLimit-able, and at
    100 TB the op log is applied per partition-of-key — this is
    MERGE INTO semantics expressed as window algebra."""
    from .catalog import table

    ev = table(spark, sf_dir, "events")
    log = ev.select(
        F.col("user_id").alias("key"),
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_id") % 11 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("key").orderBy(F.desc("ts"), F.desc("event_id"))
    ranked = log.select(
        "key",
        "op",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("key")).alias("n_ops"),
        F.count_if(F.col("op") == "D")
        .over(Window.partitionBy("key"))
        .alias("n_deletes"),
    )
    return (
        ranked.where((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            "key",
            F.round(F.col("value") + F.lit(1e-9), 2).alias("current_value"),
            "n_ops",
            "n_deletes",
        )
    )


ORACLE: dict[str, str] = {
    "q_partition_evolution": """
        SELECT event_type, count(*) AS n,
               round(sum(value) + 1e-9, 2) AS sum_value
        FROM events
        WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10'
                                   AND DATE '2024-01-20'
        GROUP BY event_type
    """,
    "q_vacuum": f"""
        -- the surviving (current) snapshot, recomputed from raw
        -- events; exactly ONE file expires (v1's bucket-0, the only
        -- file no surviving manifest references — COW reuse keeps
        -- the other {TT_BUCKETS - 1} v1 buckets alive under v2)
        WITH v2 AS (
          SELECT user_id, count(*) AS n, round(sum(value), 2) AS t
          FROM events
          WHERE ts < TIMESTAMP '{TT_SPLIT}' OR user_id % {TT_BUCKETS} = 0
          GROUP BY user_id
        )
        SELECT count(*) AS n_users,
               CAST(sum(n) AS BIGINT) AS n_events,
               round(sum(t), 2) AS sum_total,
               CAST(1 AS BIGINT) AS n_files_expired
        FROM v2
    """,
    "q_skew_detect": " UNION ALL ".join(
        f"""
        SELECT '{name}' AS key,
               count(*) AS n_keys,
               round(max(n) / CAST(sum(n) AS DOUBLE) * 100 + 1e-9, 4)
                 + 0.0 AS top_share_pct,
               round(max(n) / CAST(
                 (SELECT min(n) FROM (
                    SELECT n, count(*) OVER (ORDER BY n, k
                                             ROWS BETWEEN UNBOUNDED PRECEDING
                                                      AND CURRENT ROW) AS cum,
                           count(*) OVER () AS n_keys
                    FROM (SELECT CAST({col} AS VARCHAR) AS k, count(*) AS n
                          FROM {tbl} GROUP BY 1))
                  WHERE cum * 2 >= n_keys) AS DOUBLE) + 1e-9, 4) + 0.0
                 AS top_over_median,
               max(n) * count(*) > 4 * sum(n) AS skewed
        FROM (SELECT CAST({col} AS VARCHAR) AS k, count(*) AS n
              FROM {tbl} GROUP BY 1)
        """
        for name, tbl, col in [
            ("events.user_id", "events", "user_id"),
            ("events.event_type", "events", "event_type"),
            ("lineitem.l_orderkey", "lineitem", "l_orderkey"),
            ("orders.o_custkey", "orders", "o_custkey"),
        ]
    ),
    "q_pseudonymize": """
        WITH tok AS (
          SELECT substr(sha256('pepper-v1:' || CAST(user_id AS VARCHAR)),
                        1, 16) AS token,
                 event_type, value, user_id
          FROM events
        ), dim AS (
          SELECT token, count(*) AS n_events FROM tok GROUP BY token
        )
        SELECT f.token, d.n_events, count(*) AS n_rows,
               round(sum(f.value) + 1e-9, 2) AS revenue
        FROM tok f JOIN dim d ON f.token = d.token
        GROUP BY f.token, d.n_events
    """,
    "q_period_over_period": """
        WITH weekly AS (
          SELECT event_type, CAST(weekofyear(ts) AS INTEGER) AS week,
                 round(sum(value) + 1e-9, 2) AS revenue
          FROM events GROUP BY 1, 2
        )
        SELECT event_type, week, revenue,
               lag(revenue) OVER w AS prev_revenue,
               round((revenue - lag(revenue) OVER w)
                     / lag(revenue) OVER w * 100 + 1e-9, 2) + 0.0
                 AS pct_change
        FROM weekly
        WINDOW w AS (PARTITION BY event_type ORDER BY week)
    """,
    "q_schema_evolution": """
        SELECT CASE WHEN event_id % 2 = 1 THEN event_type
                    ELSE 'legacy' END AS channel,
               count(*) AS n,
               round(sum(value) + 1e-9, 2) AS sum_value
        FROM events
        GROUP BY 1
    """,
    "q_cdc_apply": """
        WITH log AS (
          SELECT user_id AS key, ts, event_id, value,
                 CASE WHEN event_id % 11 = 0 THEN 'D' ELSE 'U' END AS op
          FROM events
        ), ranked AS (
          SELECT key, op, value,
                 row_number() OVER (PARTITION BY key
                                    ORDER BY ts DESC, event_id DESC) AS rn,
                 count(*) OVER (PARTITION BY key) AS n_ops,
                 count(*) FILTER (WHERE op = 'D')
                   OVER (PARTITION BY key) AS n_deletes
          FROM log
        )
        SELECT key, round(value + 1e-9, 2) AS current_value,
               n_ops, n_deletes
        FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
    "q_compaction": """
        SELECT event_type, count(*) AS n,
               count(DISTINCT user_id) AS n_users,
               round(sum(value) + 1e-9, 2) AS sum_value
        FROM events
        GROUP BY event_type
    """,
    "q_time_travel": f"""
        WITH v1 AS (
          SELECT user_id, count(*) AS n, round(sum(value), 2) AS t
          FROM events WHERE ts < TIMESTAMP '{TT_SPLIT}' GROUP BY user_id
        ), v2 AS (
          SELECT user_id, count(*) AS n, round(sum(value), 2) AS t
          FROM events
          WHERE ts < TIMESTAMP '{TT_SPLIT}' OR user_id % {TT_BUCKETS} = 0
          GROUP BY user_id
        )
        SELECT 1 AS version, count(*) AS n_users,
               CAST(sum(n) AS BIGINT) AS n_events,
               round(sum(t), 2) AS sum_total
        FROM v1
        UNION ALL
        SELECT 2, count(*), CAST(sum(n) AS BIGINT), round(sum(t), 2) FROM v2
        ORDER BY version
    """,
    "q_gdpr_erasure": """
        SELECT event_type, count(*) AS n,
               count(DISTINCT user_id) AS n_users,
               round(sum(value), 2) AS sum_value
        FROM events
        WHERE user_id % 97 <> 0
        GROUP BY event_type
    """,
    "q_zorder_sink": """
        SELECT event_type, count(*) AS n,
               round(sum(value), 2) AS sum_value
        FROM events
        WHERE user_id % 100 < 10 AND value > 150.0
        GROUP BY event_type
    """,
    "q_bucketed_join": """
        SELECT o.o_orderpriority,
               count(*) AS n_items,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
    """,
    "q_partitioned_sink": """
        SELECT event_type, count(*) AS n,
               round(sum(value), 2) AS sum_value
        FROM events
        WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05'
                                   AND DATE '2024-01-09'
        GROUP BY event_type
    """,
}
