"""Load: the writer of the Solana store's `blocks` and `transactions`
tables (reference ``src/etl/load.rs`` — `INSERT ... ON CONFLICT DO
UPDATE` inside one atomic transaction per batch, S6-S8).

:func:`load_blocks` is the one path that writes the store: batch
`cli.run` and `--continuous` both call it. It commits each table with
:func:`upsert_parquet`, a keyed upsert over plain parquet, which has no
MERGE: union(existing, incoming) → last-wins-by-key window
(:func:`last_wins`) → atomic directory swap (:func:`_write_swap`).
Idempotence contract (ST6): re-loading any batch leaves the table
unchanged; newest write wins per key, ordered by an explicit version
column (the reference's `processed_at=NOW()`).

Scale: at 100 TB the swap-rewrite becomes partition-overwrite
(`partitionOverwriteMode=dynamic` on date/slot-bucket partitions) or a
Delta/Iceberg MERGE — only touched partitions rewrite; the last-wins
window shuffles once on the key, which matches the target layout, so
the shuffle doubles as the write-partitioning.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from typing import Callable

from pyspark import InheritableThread
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from .extract import blocks_from_parsed, parse_block_json, transactions_from_parsed


def last_wins(df: DataFrame, keys: list[str], order: list) -> DataFrame:
    """Newest-write-wins dedup by key (reference S6/S7). ``order``
    columns sort DESC; ties must be broken by a unique column for
    determinism.

    Scale: one shuffle on the key; at 100 TB prefer partitioning the
    target table by the key's bucket so the window reuses the layout.
    """
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def _exists(path: str) -> bool:
    return os.path.exists(path) and any(
        f.endswith(".parquet") for f in os.listdir(path)
    )


def _restore_aside(path: str) -> None:
    """Undo a swap that crashed between its two renames: the live
    table is then missing and its last committed copy sits at
    `path.old`. Moving it back before `path` is read keeps the next
    load from treating the table as empty (and its swap from deleting
    `path.old`, the only copy of every loaded row)."""
    old = path + ".old"
    if not os.path.exists(path) and os.path.exists(old):
        os.replace(old, path)


def _atomic_swap(path: str, tmp: str) -> None:
    """Crash-safe directory swap: rename the live table ASIDE first
    (`path` -> `path.old`), move `tmp` into place, then delete the
    aside copy. A crash at any point leaves either the old table at
    `path` or at `path.old` plus the complete new one at `tmp` — never
    a window with NO copy, which the naive rmtree-then-replace had.
    Only the two writers, :func:`upsert_parquet` and
    ``streaming.jobs.merge_aggregate``, call :func:`_restore_aside`
    first, which moves `path.old` back when `path` is missing. A plain
    ``spark.read.parquet(path)`` run in the crash window finds no table
    at `path` until the next upsert restores it.
    (On a real object store this is the same two-phase commit a
    Delta/Iceberg snapshot swap gives you for free.)"""
    old = path + ".old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(path):
        os.replace(path, old)
    os.replace(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def _write_swap(df: DataFrame, path: str) -> int:
    """Write ``df`` to a temp dir beside ``path``, then swap it in with
    :func:`_atomic_swap`. Returns the rows written, counted by an
    ``Observation`` on the write job itself rather than by reading the
    table back."""
    parent = os.path.dirname(path) or "."
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="swap_", dir=parent)
    try:
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").parquet(tmp)
        n = obs.get["rows"]
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    _atomic_swap(path, tmp)
    return n


def upsert_parquet(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    keys: list[str],
    order: list[str],
) -> int:
    """UPSERT-by-key into a parquet table (reference S6/S7). `order`
    columns break ties DESC — incoming rows must carry a version column
    (e.g. `processed_at`, `ts`) so newest wins deterministically.

    Returns the post-upsert row count. The write is
    write-temp-then-swap: readers see the old or the new table, never
    a partial one (the batch-atomicity analog of load.rs:161-287)."""
    _restore_aside(path)
    if _exists(path):
        existing = spark.read.parquet(path)
        merged = existing.unionByName(incoming)
    else:
        merged = incoming
    return _write_swap(last_wins(merged, keys, order), path)


def _start(call: Callable[[], object]) -> Callable[[], None]:
    """Run ``call`` in an ``InheritableThread``, so its Spark jobs keep
    the caller's job group and local properties. The returned function
    waits for it and re-raises its error."""
    errors: list[BaseException] = []

    def guarded() -> None:
        try:
            call()
        except BaseException as e:
            errors.append(e)

    thread = InheritableThread(target=guarded)
    thread.start()

    def wait() -> None:
        thread.join()
        if errors:
            raise errors[0]

    return wait


def load_blocks(raw: DataFrame, out: str) -> dict[str, int]:
    """Upsert one fetched ``(slot, raw)`` batch into ``out/blocks`` and
    ``out/transactions``, the unit the reference loads together
    (load.rs:154-290).

    Each block is parsed once: the parsed batch is persisted and filled
    by one job, which fetches each slot once, and both tables derive
    from it. The two tables' frames are built while that job runs
    (building them costs hundreds of py4j round trips, ≈0.3 s on a
    4-core host, and the job mostly waits on the RPC source); then the
    two upserts run at the same time.

    Returns this batch's own counters, taken by ``Observation``s on the
    incoming rows of the writes themselves (no read-back):
    ``blocks_loaded``, ``transactions_loaded``,
    ``successful_transactions`` and ``total_fees``.

    Failure: each table's swap is atomic, but the two tables do not
    commit together. If one upsert fails, the other may already be
    committed; the error is raised after both have finished. Both
    upserts are idempotent, so re-running the batch converges."""
    spark = raw.sparkSession
    now = F.current_timestamp()
    block_obs, tx_obs = Observation(), Observation()
    parsed = parse_block_json(raw).persist()
    try:
        filled = _start(lambda: parsed.write.format("noop").mode("overwrite").save())
        try:
            blocks = (
                blocks_from_parsed(parsed)
                .withColumn("processed_at", now)
                .observe(block_obs, F.count(F.lit(1)).alias("blocks_loaded"))
            )
            txs = (
                transactions_from_parsed(parsed)
                .withColumn("processed_at", now)
                .observe(
                    tx_obs,
                    F.count(F.lit(1)).alias("transactions_loaded"),
                    F.count_if(F.col("success")).alias("successful_transactions"),
                    F.coalesce(F.sum("fee"), F.lit(0)).alias("total_fees"),
                )
            )
        finally:
            filled()
        written = _start(
            lambda: upsert_parquet(spark, txs, f"{out}/transactions", ["signature"], ["processed_at"])
        )
        try:
            upsert_parquet(spark, blocks, f"{out}/blocks", ["slot"], ["processed_at"])
        finally:
            written()
    finally:
        parsed.unpersist()
    return {**block_obs.get, **tx_obs.get}
