"""Local replica of the DRIVER's correctness comparator over the full
catalog (r6 verdict item 6: the driver re-samples the same 50 of 252
queries, so 186 have never seen the driver's exact check — this script
closes that gap at round close).

The driver's gate (CORRECTNESS_r{N}.json) records, per query:
  * rows_match   — Spark row count == oracle row count
  * schema_match — sorted lower-cased column names equal
  * hash_match   — order-insensitive value hash over the columns
                   sorted BY NAME, equal across engines

This replica reproduces that shape — crucially it is a HASH of
canonical bytes, not the strict local harness's per-cell exact
comparison (tests/oracle_harness.py). The two differ where hashing
semantics could mask or manufacture a failure the other side doesn't
see:

  * floats: the strict harness compares repr(round(v, 9)); the driver
    hashes the values it got. Here floats hash as their IEEE-754
    bit pattern (struct.pack '<d'), the strictest defensible reading —
    a query whose engines differ at the 10th decimal passes the local
    harness but fails here, exactly the gap this script exists to
    surface. (-0.0 vs 0.0 and NaN normalize first, matching the
    engine-side `+ 0.0` convention the queries already apply.)
  * integers: Python int (arbitrary precision) — a DuckDB HUGEINT
    that slipped past the CAST(... AS BIGINT) convention hashes the
    same as int64 here, but test_oracle_output_types_driver_safe
    already bans those output types outright.
  * dates/timestamps: ISO strings; Decimal: via float bits.

Run it from a VANILLA Spark session (the driver brings its own — no
engine confs), like the real gate:

    python scripts/driver_gate.py [--sf-dir /root/testdata/sf0.01] \
        [--out DRIVER_GATE.json] [--only q_a,q_b]

Exit code 0 iff every query matches on rows+schema+hash.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import struct
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _cell_bytes(v) -> bytes:
    """Canonical bytes per cell — type-tagged so 1 != '1' != 1.0."""
    import datetime
    import decimal

    if v is None:
        return b"N"
    if isinstance(v, bool):
        return b"B1" if v else b"B0"
    if isinstance(v, int):
        return b"I" + str(v).encode()
    if isinstance(v, float):
        if math.isnan(v):
            return b"FNaN"
        if v == 0.0:
            v = 0.0  # -0.0 → +0.0 (queries add +0.0; be symmetric)
        return b"F" + struct.pack("<d", v)
    if isinstance(v, decimal.Decimal):
        return _cell_bytes(float(v))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return b"T" + v.isoformat().encode()
    if isinstance(v, (bytes, bytearray)):
        return b"Y" + bytes(v)
    if isinstance(v, str):
        return b"S" + v.encode()
    # lists/maps/structs are banned by test_oracle_output_types_driver_safe;
    # stringify defensively rather than crash the sweep.
    return b"O" + repr(v).encode()


def value_hash(rows, cols) -> str:
    """Order-insensitive hash: columns sorted by name, each row
    serialized to canonical bytes, row digests sorted, then hashed.
    Mirrors the driver's sort-columns-by-name-then-hash contract."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    digests = []
    for r in rows:
        h = hashlib.sha256()
        for i in order:
            h.update(_cell_bytes(r[i]))
            h.update(b"\x1f")
        digests.append(h.digest())
    digests.sort()
    top = hashlib.sha256()
    for d in digests:
        top.update(d)
    return top.hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=None)
    ap.add_argument("--only", default=None, help="comma-separated query names")
    ap.add_argument(
        "--master",
        default=None,
        help="Spark master override, e.g. local-cluster[2,2,2048] for the "
        "multi-node gate (VERDICT r9 item 2). Default: "
        "local[$SPARK_GRAFT_CPUS], else one core per host CPU.",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    master = args.master or f"local[{cpus}]"
    # Vanilla session, like the driver: no engine confs beyond what a
    # query sets for itself at read time — EXCEPT heap. The 1g default
    # driver heap is a HARNESS limit, not a query property: a 254-query
    # single-JVM pass accumulates ~20k stages of bookkeeping plus every
    # query's result collect, and the r12 sf0.1 run OOM'd at query ~200
    # (q_lsh_recall shuffle write) on the default. 6g matches what the
    # local-cluster branch always used; any real driver process runs
    # with a configured heap too.
    builder = (
        SparkSession.builder.master(master)
        .appName("driver-gate-replica")
        .config("spark.driver.memory", "6g")
    )
    if master.startswith("local-cluster"):
        # Multi-node needs: the package importable by EXECUTOR python
        # workers (they don't inherit the driver's sys.path insert).
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        prev = os.environ.get("PYTHONPATH", "")
        os.environ["PYTHONPATH"] = f"{repo}:{prev}" if prev else repo
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"]
        )
    spark = builder.getOrCreate()
    if master.startswith("local-cluster"):
        # Iterative operators refuse to run on a distributed master
        # without a reliable checkpoint dir (iter_checkpoint's fail-fast
        # contract) — the shared local fs stands in for HDFS here.
        import tempfile

        spark.sparkContext.setCheckpointDir(
            tempfile.mkdtemp(prefix="bdf_gate_ckpt_")
        )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry
    from tests.oracle_harness import duckdb_conn

    queries = entry.queries()
    oracles = entry.oracle_sql()
    names = sorted(queries)
    if args.only:
        names = [n for n in names if n in set(args.only.split(","))]

    results: dict[str, dict] = {}
    n_fail = 0
    t0 = time.time()
    for name in names:
        rec: dict = {}
        spark_wall = None
        t_q = time.time()
        try:
            sdf = queries[name](spark, args.sf_dir)
            s_cols = [c.lower() for c in sdf.columns]
            s_rows = [tuple(r) for r in sdf.collect()]
            spark_wall = round(time.time() - t_q, 3)
            sql = oracles.get(name)
            if sql is None:
                rec = {
                    "rows_only": True,
                    "spark_rows": len(s_rows),
                    "match": len(s_rows) >= 0,
                }
            else:
                con = duckdb_conn(args.sf_dir)
                res = con.execute(sql)
                d_cols = [d[0].lower() for d in res.description]
                d_rows = res.fetchall()
                con.close()
                rec["rows_match"] = len(s_rows) == len(d_rows)
                rec["schema_match"] = sorted(s_cols) == sorted(d_cols)
                rec["hash_match"] = rec["schema_match"] and value_hash(
                    s_rows, s_cols
                ) == value_hash(d_rows, d_cols)
                rec["spark_rows"] = len(s_rows)
                rec["oracle_rows"] = len(d_rows)
                rec["match"] = (
                    rec["rows_match"]
                    and rec["schema_match"]
                    and rec["hash_match"]
                )
            rec["err"] = None
        except Exception as e:  # noqa: BLE001 — sweep must finish
            rec = {"match": False, "err": f"{type(e).__name__}: {e}"}
        # Spark-side wall (build + collect, excluding the DuckDB
        # oracle where the query succeeded): lets a multi-node gate's
        # per-query costs sit next to the local[32] numbers (r10
        # VERDICT item 4). Failures time up to the raise.
        rec["spark_wall_sec"] = (
            spark_wall if spark_wall is not None else round(time.time() - t_q, 3)
        )
        results[name] = rec
        if not rec.get("match"):
            n_fail += 1
            print(f"FAIL {name}: {rec}", file=sys.stderr)

    # Execution-mode provenance (r10 VERDICT item 2: the multi-node
    # gate artifact was indistinguishable from a single-JVM run).
    import multiprocessing
    import socket

    summary = {
        "sf_dir": args.sf_dir,
        "n_queries": len(names),
        "n_failed": n_fail,
        "wall_sec": round(time.time() - t0, 1),
        "master": spark.sparkContext.master,
        "run_id": os.environ.get("BDF_RUN_ID")
        or spark.sparkContext.applicationId,
        "spark_version": spark.version,
        "host": socket.gethostname(),
        "host_cpus": multiprocessing.cpu_count(),
        "queries": results,
    }
    if args.out:
        with open(args.out, "w", encoding="utf-8") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
    print(
        json.dumps(
            {k: v for k, v in summary.items() if k != "queries"},
            sort_keys=True,
        )
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
