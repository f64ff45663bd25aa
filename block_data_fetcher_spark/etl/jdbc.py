"""JDBC upsert sink — reference parity for the PostgreSQL load stage
(``src/etl/load.rs:154-290``: per-batch transaction of
``INSERT ... ON CONFLICT (key) DO UPDATE SET col = EXCLUDED.col``).

Spark-first shape: the reference upserts row-at-a-time inside one DB
transaction; a distributed engine instead (1) deduplicates the batch
to one winner per key (last-wins, same as the parquet sink), (2) bulk
writes it to a STAGING table through the JDBC datasource (parallel
executor connections — this is the part that must scale), then (3)
issues ONE set-based upsert statement staging→target on the driver.
Step 3 touches no row data over py4j; all bulk movement is executor
JDBC.

Testability without a JDBC driver jar: the SQL generators are pure
functions, and :func:`jdbc_upsert` takes injectable ``write_staging`` /
``run_sql`` callables — unit tests assert the deduplicated frame, the
staging write, and the exact statement, and ``tests/test_jdbc_pg.py``
runs the generated statement against a live PostgreSQL through
``psql``; production callers omit them to get ``df.write.jdbc`` and a
driver-side ``java.sql.DriverManager`` connection.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from .load import last_wins


def _ident(name: str) -> str:
    """Quote an SQL identifier (double-quote, doubling embedded)."""
    return '"' + name.replace('"', '""') + '"'


def upsert_sql(
    table: str, columns: list[str], keys: list[str], staging: str
) -> str:
    """Postgres ``INSERT ... ON CONFLICT DO UPDATE`` from a staging
    table — the set-based twin of the reference's per-row statement
    (src/etl/load.rs:185-196)."""
    non_keys = [c for c in columns if c not in keys]
    cols = ", ".join(_ident(c) for c in columns)
    sets = ", ".join(f"{_ident(c)} = EXCLUDED.{_ident(c)}" for c in non_keys)
    conflict = ", ".join(_ident(k) for k in keys)
    stmt = (
        f"INSERT INTO {_ident(table)} ({cols}) "
        f"SELECT {cols} FROM {_ident(staging)} "
        f"ON CONFLICT ({conflict}) "
    )
    if non_keys:
        return stmt + f"DO UPDATE SET {sets}"
    return stmt + "DO NOTHING"


def merge_sql(
    table: str, columns: list[str], keys: list[str], staging: str
) -> str:
    """ANSI ``MERGE INTO`` variant for engines without ON CONFLICT
    (SQL Server, Oracle, DB2)."""
    non_keys = [c for c in columns if c not in keys]
    on = " AND ".join(f"t.{_ident(k)} = s.{_ident(k)}" for k in keys)
    sets = ", ".join(f"t.{_ident(c)} = s.{_ident(c)}" for c in non_keys)
    cols = ", ".join(_ident(c) for c in columns)
    vals = ", ".join(f"s.{_ident(c)}" for c in columns)
    stmt = f"MERGE INTO {_ident(table)} t USING {_ident(staging)} s ON {on} "
    if non_keys:
        stmt += f"WHEN MATCHED THEN UPDATE SET {sets} "
    return stmt + f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"


def _default_write_staging(url: str, properties: dict[str, str]):
    def write(df: DataFrame, staging: str) -> None:
        # executor-parallel bulk load; overwrite = fresh staging per batch
        df.write.mode("overwrite").jdbc(url, staging, properties=properties)

    return write


def _default_run_sql(url: str, properties: dict[str, str], spark):
    def run(sql: str) -> None:
        # ONE driver-side statement; no row data crosses py4j
        jvm = spark.sparkContext._jvm
        props = jvm.java.util.Properties()
        for k, v in properties.items():
            props.setProperty(k, v)
        conn = jvm.java.sql.DriverManager.getConnection(url, props)
        try:
            st = conn.createStatement()
            try:
                st.execute(sql)
            finally:
                st.close()
        finally:
            conn.close()

    return run


def jdbc_upsert(
    df: DataFrame,
    url: str,
    table: str,
    keys: list[str],
    order: list[str],
    properties: dict[str, str] | None = None,
    dialect: str = "postgresql",
    staging_table: str | None = None,
    write_staging: Callable[[DataFrame, str], None] | None = None,
    run_sql: Callable[[str], None] | None = None,
) -> str:
    """Last-wins keyed upsert of ``df`` into an RDBMS table.

    Returns the executed statement (for logging/tests). ``order``
    columns break ties DESC within the batch — same contract as
    :func:`..etl.load.upsert_parquet`; cross-batch last-wins is the
    database's ON CONFLICT semantics, exactly the reference's
    idempotence story (re-running a batch leaves the table unchanged).
    """
    properties = properties or {}
    staging = staging_table or f"{table}_staging"
    deduped = last_wins(df, keys, order)
    columns = deduped.columns
    if write_staging is None:
        write_staging = _default_write_staging(url, properties)
    if run_sql is None:
        run_sql = _default_run_sql(url, properties, df.sparkSession)

    write_staging(deduped, staging)
    gen = upsert_sql if dialect == "postgresql" else merge_sql
    stmt = gen(table, columns, keys, staging)
    run_sql(stmt)
    return stmt
