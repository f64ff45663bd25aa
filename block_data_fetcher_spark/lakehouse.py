"""Versioned parquet table: snapshot-per-commit manifests.

The catalog's time-travel / vacuum / compaction / CDC queries
(`storage.py`, `operators/analytics.py`) demonstrate the SEMANTICS from
parquet primitives — manifests, copy-on-write bucket reuse,
exclusive-file vacuum. :class:`ParquetManifestTable` puts that
capability surface behind one small class with no extra packages (same
building blocks as ``q_time_travel``): commit, versioned read, expire
and a row-level change feed.

Scale posture: commits are metadata-plus-new-files (never rewrite
history), reads of old versions are manifest lookups, ``expire`` only
ever deletes files no surviving snapshot references, and ``changes``
(the CDC diff between two versions) is a pair of hash-partitioned
anti/semi joins on the snapshot key — O(changed + key-join), never a
full-history scan.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class ParquetManifestTable:
    """Snapshot-per-commit manifests over plain parquet.

    Layout: ``base/v{n}/part-*.parquet`` + ``base/_manifest.json``
    mapping version → relative file list. Commits never touch prior
    versions' files; a future COW writer may list another version's
    files in its manifest (the ``q_time_travel`` bucket-reuse shape),
    which is why :meth:`expire` computes reference counts instead of
    deleting version directories blindly."""

    def __init__(self, spark: SparkSession, base: str):
        self.spark = spark
        self.base = base
        os.makedirs(base, exist_ok=True)

    # -- manifest ----------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.base, "_manifest.json")

    def _manifest(self) -> dict[str, list[str]]:
        try:
            with open(self._manifest_path) as f:
                return json.load(f)
        except OSError:
            return {}

    def _write_manifest(self, m: dict[str, list[str]]) -> None:
        # atomic swap — a reader never sees a torn manifest
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path)

    # -- snapshots ---------------------------------------------------
    def commit(self, df: DataFrame) -> int:
        """Write ``df`` as the next snapshot; returns its version."""
        m = self._manifest()
        version = max((int(v) for v in m), default=0) + 1
        vdir = os.path.join(self.base, f"v{version}")
        df.write.mode("overwrite").parquet(vdir)
        files = sorted(
            os.path.join(f"v{version}", f)
            for f in os.listdir(vdir)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        m[str(version)] = files
        self._write_manifest(m)
        return version

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot scan; latest when ``version`` is None."""
        m = self._manifest()
        if not m:
            raise FileNotFoundError(f"no snapshots under {self.base}")
        v = str(version if version is not None else max(int(k) for k in m))
        if v not in m:
            raise KeyError(f"version {v} expired or never committed")
        return self.spark.read.parquet(
            *[os.path.join(self.base, f) for f in m[v]]
        )

    def versions(self) -> list[int]:
        """Live snapshot versions, ascending."""
        return sorted(int(v) for v in self._manifest())

    def expire(self, keep: int) -> int:
        """Drop all but the newest ``keep`` snapshots, deleting only
        files referenced EXCLUSIVELY by expired ones (the invariant
        real VACUUMs get wrong first). Returns files reclaimed."""
        m = self._manifest()
        live = sorted((int(v) for v in m), reverse=True)[:keep]
        keep_files = {f for v in live for f in m[str(v)]}
        dead_files = {
            f for v, fl in m.items() if int(v) not in live for f in fl
        }
        reclaimed = 0
        for f in sorted(dead_files - keep_files):
            target = os.path.join(self.base, f)
            if os.path.isdir(target):
                shutil.rmtree(target, ignore_errors=True)
            else:
                try:
                    os.remove(target)
                except OSError:
                    continue
            reclaimed += 1
        self._write_manifest({str(v): m[str(v)] for v in sorted(live)})
        # drop now-empty version dirs
        for d in os.listdir(self.base):
            p = os.path.join(self.base, d)
            if d.startswith("v") and os.path.isdir(p) and not os.listdir(p):
                os.rmdir(p)
        return reclaimed

    def changes(
        self, key_cols: Sequence[str], v_from: int, v_to: int
    ) -> DataFrame:
        """Row-level CDC between two snapshots: (op ∈ insert | delete |
        update_postimage, *row), from two snapshot reads and a full-row
        comparison keyed on ``key_cols``. At scale both sides hash-join
        on the key; only differing rows survive."""
        old, new = self.read(v_from), self.read(v_to)
        cols = new.columns
        tag_old = old.select(
            *cols, F.struct(*[F.col(c) for c in cols]).alias("_row_o")
        )
        tag_new = new.select(
            *cols, F.struct(*[F.col(c) for c in cols]).alias("_row_n")
        )
        keys = list(key_cols)
        j = tag_old.select(
            *[F.col(k).alias(f"_k_{k}") for k in keys], "_row_o"
        ).join(
            tag_new.select(
                *[F.col(k).alias(f"_k_{k}") for k in keys], "_row_n"
            ),
            [f"_k_{k}" for k in keys],
            "full_outer",
        )
        op = (
            F.when(F.col("_row_o").isNull(), F.lit("insert"))
            .when(F.col("_row_n").isNull(), F.lit("delete"))
            .when(
                # null-safe struct compare: a field moving to/from NULL
                # is an update, where plain != would return NULL and
                # silently drop the row from the feed
                ~F.col("_row_o").eqNullSafe(F.col("_row_n")),
                F.lit("update_postimage"),
            )
        )
        row = F.coalesce(F.col("_row_n"), F.col("_row_o"))
        return (
            j.select(op.alias("op"), row.alias("_row"))
            .where(F.col("op").isNotNull())
            .select("op", *[F.col(f"_row.{c}").alias(c) for c in cols])
        )
