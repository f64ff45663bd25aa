"""Benchmark entry point.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Runs one workload (backfill, follow, query_mix or curate) against the
engine in the checkout this file sits in, checks every output against
the seeded generator's ledger, prints each metric on its own line, and
prints as the last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones (see BENCHMARK.json and perfbench/README.md).

Everything the run writes goes under a run-keyed directory in the
checkout (or under ``$SPARK_LOCAL_DIRS`` for Spark's local files, when
set), which is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def metric_units(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics
    BENCHMARK.json lists."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec[kind]}


def _hermetic_env(run_dir: str, run_key: str) -> str:
    """Point every scratch location of the engine, Spark, the JVM and
    Python at the run directory, before the JVM starts. Returns Spark's
    local directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    outer = os.environ.get("SPARK_LOCAL_DIRS")
    local = os.path.join(outer, run_key) if outer else os.path.join(run_dir, "local")
    os.makedirs(local)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    # no fixture: shuffle sizing must not depend on files outside the checkout
    os.environ["SPARK_GRAFT_SF_DIR"] = os.path.join(run_dir, "no-fixture")
    # Python workers (the RPC data source) import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    # no hsperfdata file: the JVM writes it under /tmp whatever its tmpdir
    os.environ["SPARK_SUBMIT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    os.chdir(run_dir)  # Spark's cwd-relative files (warehouse, derby) land here too
    return local


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM (and with it the Python
    workers it forked), and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["backfill", "follow", "query_mix", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # fail fast, before any set-up, when the engine is not in the checkout
    import block_data_fetcher_spark  # noqa: F401

    from perfbench import probes
    from perfbench.workloads import WORKLOADS, Run

    units = metric_units("per_layer" if args.trace else "end_to_end")
    run_key = f"{args.workload}-{os.getpid()}-{time.time_ns()}"
    run_dir = os.path.join(ROOT, ".perfbench_run", run_key)
    os.makedirs(run_dir)
    spark = local = None
    try:
        local = _hermetic_env(run_dir, run_key)
        with probes.Sampler(watch_dir=local if args.trace else None) as sampler:
            t0 = time.perf_counter()
            from block_data_fetcher_spark.session import get_spark

            spark = get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t0
            run = Run(spark, args.seed, args.seconds, bool(args.trace), run_dir, os.cpu_count() or 1)
            gc0 = probes.jvm_gc_seconds(spark)
            WORKLOADS[args.workload](run)
            run.layer.setdefault("jvm.gc_s", probes.jvm_gc_seconds(spark) - gc0)
        setup_s = session_s + sum(run.setup.values())
        e2e = {
            "setup_s": setup_s,
            "ops_per_s": run.ops_per_s,
            "latency_p50_ms": run.latency_p50_ms,
        }
        run.layer["peak_rss_mb"] = sampler.peak_rss / 2**20
        run.layer["session.start_s"] = session_s
        run.layer["session.warmup_s"] = sum(v for k, v in run.setup.items() if "warmup" in k or k == "preload")
        run.layer["local_dir.bytes_peak"] = sampler.peak_dir
    finally:
        if spark is not None:
            _stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        if local is not None:
            shutil.rmtree(local, ignore_errors=True)
        if not os.listdir(os.path.dirname(run_dir)):
            os.rmdir(os.path.dirname(run_dir))

    # a per-layer metric of a layer the workload does not reach reads 0
    values = run.layer if args.trace else e2e
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
    print(f"workload: {args.workload}  seed: {args.seed}  seconds: {args.seconds}  trace: {args.trace}")
    for phase, secs in run.setup.items():
        print(f"setup.{phase}: {secs:.4f} s")
    for name, value, unit, n in run.report:
        if value is None:
            shown = "n/a (too few samples)"
        else:
            shown = f"{value} {unit}" if isinstance(value, str) else f"{value:.6g} {unit}"
        print(f"{name}: {shown}" + ("" if n is None else f"  (n={n})"))
    print(f"op_fail_ratio: {run.failed / max(1, run.attempted):.6g} ratio  ({run.failed}/{run.attempted})")
    for name, m in metrics.items():
        print(f"{name}: {m['value']:.6g} {m['unit']}")
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
