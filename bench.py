#!/usr/bin/env python
"""Benchmark: run the full query catalog at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract (BENCH_r01 post-mortem: a single ~4 KB stdout line got
tail-truncated by the driver's capture and parsed as null): stdout's
final line is a COMPACT JSON summary (<300 bytes); the full per-query
timing map goes to stderr and to BENCH_DETAIL.json next to this file.

Each query is executed to completion (collect for small results; count
for large ones would hide the projection cost, so we collect rows but
cap materialization via toLocalIterator when huge — in practice every
catalog query returns a small or bounded result except the scan/explode
shaped ones, which we drain with count).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from block_data_fetcher_spark import api, scratch  # noqa: E402
from block_data_fetcher_spark.functions import hashing  # noqa: E402
from block_data_fetcher_spark.session import get_spark  # noqa: E402
from block_data_fetcher_spark.streaming import jobs as streaming_jobs  # noqa: E402

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
# Artifact destination override (tests point it at a tmp dir so a
# pytest run can never clobber a concurrently-running real bench's
# incremental BENCH_DETAIL.json — the same hermeticity rule as
# scratch.py's run-keyed sinks).
OUT_DIR = os.environ.get("SPARK_GRAFT_OUT_DIR") or REPO_ROOT

# Scratch hygiene floor (the sf100 ENOSPC lesson): when free disk on
# the scratch volume (see _scratch_free_bytes) drops below this, completed queries' scratch output is
# dropped mid-session. Kept conditional — unconditional clearing would
# also destroy the kmeans/IVF materialize-once caches that the
# similarity family deliberately shares across queries.
MIN_FREE_BYTES = 24 << 30
# Trigger shuffle-file GC earlier: the largest single-query spill
# (sf100 TPC-H Q3's sort-merge exchanges) needs ~50 GB headroom.
SHUFFLE_GC_FREE_BYTES = 56 << 30
# Last-resort shuffle hygiene (VERDICT r12 item 3): when the JVM GC
# wait above still leaves the disk under the threshold, physically
# unlink shuffle_* files older than this from the app's OWN blockmgr
# dirs. The r12 sf100 decade pass proved both halves of the premise:
# ~22 GB of shuffle files from queries 10+ positions back survived
# every between-query System.gc (the ContextCleaner reclaims only
# after the owning ShuffleDependency is collected, which a long
# session defers indefinitely), and a live out-of-band sweep of
# +45 min files at query ~200 freed 37 GB with zero FetchFailed for
# the remaining 54 queries. The age bound keeps it safe by
# construction: the sweep runs BETWEEN queries (no job in flight), no
# single catalog query runs anywhere near 45 min, and cross-query
# shared state (kmeans/IVF caches, iter_checkpoint blocks) lives in
# parquet scratch / rdd_* blocks, never in shuffle files. If the JVM
# later GCs the dependency it double-deletes a missing file — a no-op.
STALE_SHUFFLE_AGE_SEC = 45 * 60

# Queries whose result is O(input) rows: drain with count() instead of
# collecting everything to the driver.
LARGE_RESULT = {
    "q_scan_project",
    "q_filter_project",
    "q_json_extract",
    "q_coalesce_cast",
    "q_explode",
    "q_array_size",
    "q_array_distinct",
    "q_first_element",
    "q_first_match",
    "q_left_join_null",
    "q_self_join",
    "q_anti_join",
    "q_last_wins_window",
    "q_token_count",
    "q_lang_id",
    "q_quality_score",
    "q_embed_near_dup",
    "q_fuzzy_match",
    "q_knn_join",
    "q_semdedup",
    "q_lsh_verified",
    "q_dedup_exact",
    "q_stream_dedup",
    "q_media_features",
    "q_window_dist",
    "q_spatial_join",
    "q_phash_neardup",
    "q_line_dedup",
    "q_cdc_apply",
    "q_stream_cdc",
    "q_bpe_encode",
    "q_audio_features",
    "q_minhash_lsh",
    "q_minhash_clean",
    "q_simhash",
    "q_ngram_jaccard",
    "q_fingerprint",
    "q_lang_id",
    "q_token_count",
    "q_window_running",
    "q_window_lag",
    "q_sessionize",
    "q_asof_join",
    "q_corpus_curate",
    "q_topn_per_group",
    "q_window_range",
    "q_string_funcs",
    "q_window_rank",
    "q_window_first_last",
    "q_regexp_funcs",
    "q_array_funcs",
    "q_conditional_funcs",
    "q_stream_curate",
    # r7 sweep: every query emitting >=50k rows at sf0.1 (row-per-
    # input/-fingerprint outputs; >=1M rows at sf10, where .collect()
    # measured driver Arrow materialization instead of engine work —
    # q_try_funcs computed in 0.3 s at sf10 and spent ~38 s
    # collecting). Counted like the rest of this set.
    "q_winnow",
    "q_stream_static_join",
    "q_try_funcs",
    "q_session_window",
    "q_stream_session",
    "q_scd2",
    # row-per-point output whose cardinality grows with density (2.7k
    # rows at sf0.1 but 15M at sf100, where .collect() was 200 s of
    # driver Arrow while the engine computed in 4.4 s)
    "q_spatial_nn",
}


def _provenance(spark) -> dict:
    """Execution-mode stamp for every bench/gate artifact (r10 VERDICT
    item 2: GATE_CLUSTER_r10.json could not prove it ran multi-node —
    no master, run id, or session conf in the JSON)."""
    import multiprocessing
    import socket

    sc = spark.sparkContext
    return {
        "master": sc.master,
        "run_id": os.environ.get("BDF_RUN_ID") or sc.applicationId,
        "spark_version": spark.version,
        "host": socket.gethostname(),
        "host_cpus": multiprocessing.cpu_count(),
    }


def _blockmgr_dirs(spark) -> list:
    """This app's block-manager local dirs (where shuffle_* files
    live), via the JVM's DiskBlockManager. If the py4j lookup fails,
    returns [] — i.e. the stale-shuffle sweep is SKIPPED. The previous
    fallback globbed tempdir for blockmgr-* and could therefore unlink
    another live Spark process's shuffle files on a shared box
    (ADVICE r13) — the exact cross-process interference scratch.py's
    run-id isolation exists to prevent. No ownership proof, no sweep."""
    try:
        jdirs = (
            spark.sparkContext._jvm.org.apache.spark.SparkEnv.get()
            .blockManager()
            .diskBlockManager()
            .localDirs()
        )
        return [jdirs[i].getAbsolutePath() for i in range(len(jdirs))]
    except Exception:
        sys.stderr.write(
            "blockmgr lookup failed; skipping stale-shuffle sweep\n"
        )
        return []


def _scratch_free_bytes() -> int:
    """Free bytes on the volume that holds scratch tables
    (:func:`scratch.scratch_base`, under the OS temp dir)."""
    import shutil

    base = scratch.scratch_base()
    os.makedirs(base, exist_ok=True)
    return shutil.disk_usage(base).free


def _sweep_stale_shuffle(spark, protect_after: float | None = None) -> tuple[int, int]:
    """Unlink shuffle_* files older than STALE_SHUFFLE_AGE_SEC from
    this app's blockmgr dirs (see the constant's rationale). Returns
    (files_removed, bytes_freed). Best-effort: a file the JVM deletes
    mid-walk is skipped, never an error.

    ``protect_after`` (ADVICE r13): the 45-min age bound rests on the
    empirical claim that no query approaches 45 min; a future slower
    query family would leave its own early shuffle files eligible at
    the next sweep. The run loop passes the PREVIOUS query's start
    time — files written at or after it can still be live (the current
    or previous query's shuffle), so they are never deleted no matter
    how old the age bound says they are."""
    cutoff = time.time() - STALE_SHUFFLE_AGE_SEC
    if protect_after is not None:
        cutoff = min(cutoff, protect_after)
    n = freed = 0
    for d in _blockmgr_dirs(spark):
        for root, _dirs, files in os.walk(d):
            for f in files:
                if not f.startswith("shuffle_"):
                    continue
                p = os.path.join(root, f)
                try:
                    st = os.stat(p)
                    if st.st_mtime < cutoff:
                        os.unlink(p)
                        n += 1
                        freed += st.st_size
                except OSError:
                    continue
    return n, freed


def _write_detail(
    timings, stream_stats, cc_stats, sf_val, subset, prov, partial=False,
    disk_timeline=None,
):
    d = {
        "metric": "catalog_wall_clock",
        "queries": dict(timings),
        "stream_stats": dict(stream_stats),
        "cc_stats": dict(cc_stats),
        "sf": sf_val,
        "n_failed": sum(1 for v in timings.values() if v < 0),
        **prov,
    }
    if disk_timeline:
        d["disk_timeline"] = list(disk_timeline)
    if partial:
        d["partial"] = True
    if subset is not None:
        d["subset"] = True
    path = os.path.join(OUT_DIR, "BENCH_DETAIL.json")
    try:
        with open(path + ".tmp", "w") as f:
            json.dump(d, f, indent=1, sort_keys=True)
        os.replace(path + ".tmp", path)
    except OSError:
        pass


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Drop run dirs orphaned by killed processes before starting a long
    # session; live concurrent runs keep fresh mtimes and are untouched.
    scratch.sweep_stale()
    spark = get_spark("bdf-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    queries = api.queries()

    # Subset mode (r7, for targeted scale proofs like the sf100
    # heavy-family run): SPARK_GRAFT_ONLY=q_a,q_b restricts the run;
    # the summary/history lines carry a "subset" marker so a partial
    # wall-clock can never be mistaken for a full-catalog number.
    only_env = os.environ.get("SPARK_GRAFT_ONLY", "").strip()
    subset = None
    if only_env:
        subset = sorted({q for q in only_env.split(",") if q})
        unknown = [q for q in subset if q not in queries]
        if unknown:
            raise SystemExit(f"SPARK_GRAFT_ONLY names unknown queries: {unknown}")
        queries = {q: queries[q] for q in subset}

    # Warm-up: pay JVM/codegen/parquet-footer init once, outside the
    # timings (otherwise the alphabetically-first query absorbs ~4 s
    # of session startup that is not query cost).
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in ("lineitem", "events", "documents", "embeddings"):
        try:
            spark.read.parquet(f"{sf_dir}/{t}.parquet").limit(1).collect()
        except Exception:
            pass
    try:  # Python worker pool + Arrow array-column serializer init
        import pandas as pd
        from pyspark.sql import functions as F

        @F.pandas_udf("int")
        def _dims(s: pd.Series) -> pd.Series:
            return s.map(len).astype("int32")

        (
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .select(_dims("embedding"))
            .count()
        )
    except Exception:
        pass
    try:  # py4j lambda-HOF bridge: the FIRST Column built from a
        # Python lambda (filter/transform/aggregate) initializes the
        # function-interface machinery (~1 s, measured); pay it here
        from pyspark.sql import functions as F

        spark.range(1).select(F.filter(F.array(F.lit(1)), lambda x: x > 0)).collect()
    except Exception:
        pass
    try:  # Python DataSource worker init (q_etl_* use the RPC source)
        from block_data_fetcher_spark.sources.rpc import SolanaRpcDataSource

        spark.dataSource.register(SolanaRpcDataSource)
        (
            spark.read.format("solana_rpc")
            .option("start_slot", 0)
            .option("end_slot", 0)
            .option("mode", "offline")
            .load()
            .count()
        )
    except Exception:
        pass
    try:  # streaming machinery (StreamExecution, state store) init
        import tempfile
        import uuid

        sink = f"warmup_{uuid.uuid4().hex[:8]}"
        with tempfile.TemporaryDirectory(prefix="ckpt_warm_") as ckpt:
            (
                spark.readStream.format("rate")
                .option("rowsPerSecond", 1)
                .load()
                .groupBy("value")
                .count()
                .writeStream.format("memory")
                .queryName(sink)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination(60)
            )
    except Exception:
        pass

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    prov = _provenance(spark)
    timings: dict[str, float] = {}
    stream_stats: dict[str, dict] = {}
    cc_stats: dict[str, dict] = {}
    # Free-disk timeline (VERDICT r12 item 3): one sample per query,
    # taken AFTER that query's hygiene pass, so a decade-pass artifact
    # shows the shuffle-plateau shape and when/whether the sweep fired
    # — without grepping stderr logs.
    disk_timeline: list[dict] = []
    t_all = time.perf_counter()
    # Wall-clock start of the PREVIOUS query — the stale-shuffle
    # sweep's delete-nothing-newer-than bound (ADVICE r13).
    prev_q_start: float | None = None
    q_start = time.time()
    for name in sorted(queries):
        fn = queries[name]
        hashing.LAST_CC_STATS.clear()
        prev_q_start, q_start = q_start, time.time()
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            if name in LARGE_RESULT:
                df.count()
            else:
                df.collect()
            timings[name] = round(time.perf_counter() - t0, 3)
            sys.stderr.write(f"{name} {timings[name]:.3f}s\n")
            sys.stderr.flush()
        except Exception as e:  # record failures as -1, keep benching
            sys.stderr.write(f"{name} FAILED: {e}\n")
            timings[name] = -1.0
        # Release THIS query's plan before the next one runs: the loop
        # variable otherwise pins query N's JVM DataFrame (and its
        # materialized AQE shuffle stages) through the WHOLE of query
        # N+1 — rebinding happens only after fn() returns — so a heavy
        # query always runs with its predecessor's shuffle files
        # undeletable (r11 sf100 post-mortem: q_tpch_q7 ENOSPC'd while
        # ~25 GB of already-dead exchanges sat in blockmgr).
        df = None  # noqa: F841 — deliberate reference drop
        # Snapshot streaming progress metrics (micro-batch count,
        # late drops, state peak/evicted) so scale runs carry the
        # eviction evidence in the artifact, not just in test logs.
        if name.startswith("q_stream") and streaming_jobs.STREAM_STATS:
            for k, v in streaming_jobs.STREAM_STATS.items():
                stream_stats.setdefault(k, v)
        # Connected-components convergence telemetry (r10 VERDICT item
        # 7): rounds / escaped / reason per CC-family query rides the
        # artifact so sf100 convergence regressions are visible without
        # a rerun. LAST_CC_STATS is cleared before each query, so a
        # non-empty dict here is attributable to THIS query.
        if hashing.LAST_CC_STATS:
            cc_stats[name] = dict(hashing.LAST_CC_STATS)
        # Per-query scratch hygiene: stream sink/checkpoint temp dirs
        # are never shared across queries — drop them now. The engine
        # scratch root (storage/format sinks + the shared kmeans/IVF
        # caches) is only dropped under disk pressure: ten sf100
        # storage-family queries each leave an events-sized table
        # behind, which is what ENOSPC'd the first decade proof.
        streaming_jobs.clear_stream_scratch()
        try:
            # Gauge the volume the scratch tables actually live on,
            # not the fixture mount (ADVICE r10: keying off sf_dir
            # reads the wrong volume when fixtures are mounted
            # elsewhere).
            free = _scratch_free_bytes()
            if free < SHUFFLE_GC_FREE_BYTES:
                # CHEAP RECLAIM FIRST (r13): completed queries' sink
                # tables are dead weight the moment their result is
                # drained (the storage family leaves several
                # events-sized tables at sf100 — 18 GB by mid-pass in
                # the r13 run), and deleting files is instant, unlike
                # waiting on the JVM cleaner below. Spare only the
                # caches later queries reread (kmeans trajectories,
                # the materialized IVF index). The r13 pass measured
                # the cost of ordering this AFTER the GC wait: with
                # scratch pinning free below the threshold and no
                # stale shuffles to reclaim, every query burned the
                # full no-progress wait — ~33 s/query of dead time.
                scratch.clear_scratch(
                    spark, keep_substr=("kmeans_assign", "ivf_index")
                )
                n_rm, b_rm = _sweep_stale_shuffle(
                    spark, protect_after=prev_q_start
                )
                free = _scratch_free_bytes()
                sys.stderr.write(
                    f"cheap reclaim: sinks cleared, {n_rm} stale "
                    f"shuffle files ({b_rm >> 30} GB) unlinked, "
                    f"{free >> 30} GB free\n"
                )
            if free < SHUFFLE_GC_FREE_BYTES:
                # A single-JVM catalog pass accumulates every query's
                # shuffle files under spark.local.dir until the
                # ShuffleDependency objects are GC'd (r10: ~19 GB by
                # query 221, which starved q_tpch_q3's sf100 SMJ spill
                # into an ENOSPC JVM death). Nothing references the
                # previous queries' frames anymore — one JVM System.gc
                # lets the ContextCleaner reclaim them. The reclaim is
                # ASYNCHRONOUS (cleaner thread drains a reference
                # queue), and the r11 single pass died on exactly that
                # lag: the between-queries GC fired at 36 GB free, the
                # next spiller launched immediately, and the dead
                # exchanges were still on disk when it hit the floor.
                # So under pressure, WAIT (bounded) for the cleanup to
                # actually land before starting the next query: poll
                # free space, stop as soon as the threshold is met or
                # two consecutive polls show no further progress. The
                # wait is harness time, not query time — it lands in
                # harness_overhead_sec, keeping per-query walls honest.
                spark.sparkContext._jvm.System.gc()
                deadline = time.monotonic() + 90
                # The cleaner thread may take >6 s just to START
                # deleting (ADVICE r11), so give reclamation a 12 s
                # grace to BEGIN — but no longer (r13): when there is
                # simply nothing left to reclaim (sinks and stale
                # shuffles already swept above), holding the old
                # until-deadline wait burned up to 90 s per query for
                # the rest of a below-threshold pass.
                grace = time.monotonic() + 12
                prev_free = free
                stalls = 0
                progressed = False
                while (
                    free < SHUFFLE_GC_FREE_BYTES
                    and time.monotonic() < deadline
                    and (
                        (progressed and stalls < 2)
                        or (not progressed and time.monotonic() < grace)
                    )
                ):
                    time.sleep(3)
                    free = _scratch_free_bytes()
                    if free > prev_free:
                        progressed, stalls = True, 0
                    else:
                        stalls += 1
                    prev_free = free
                sys.stderr.write(
                    f"jvm gc (low disk): {free >> 30} GB free after wait\n"
                )
            if free < MIN_FREE_BYTES:
                # spare the kmeans materialize-once caches (retraining
                # them costs ~minutes at data scale); the storage-family
                # sink tables beside them are dead weight once drained
                scratch.clear_scratch(spark, keep_substr=("kmeans_assign",))
                sys.stderr.write("scratch cleared (low disk)\n")
        except Exception as e:  # best-effort by design: a py4j error
            # from a dying JVM must not abort the remaining pass
            # (ADVICE r10: System.gc() raises Py4JError, not OSError)
            sys.stderr.write(f"hygiene skipped: {e}\n")
        try:
            disk_timeline.append(
                {
                    "q": name,
                    # Per-query DURATION (same value as the queries map;
                    # -1.0 = failed). VERDICT r15 item 2: the driver's
                    # per-query parser reads this timeline from captured
                    # output, and the cumulative t_sec below cannot be
                    # differenced from a truncated tail — so each entry
                    # now also carries its own duration. Additions-only:
                    # t_sec keeps its cumulative meaning.
                    "sec": timings.get(name),
                    "t_sec": round(time.perf_counter() - t_all, 1),
                    "free_gb": round(_scratch_free_bytes() / (1 << 30), 1),
                }
            )
        except OSError:
            pass
        # Incremental artifact: a pass that dies at query N (ENOSPC,
        # OOM-kill) still leaves the full per-query map on disk — the
        # summary/history line stays completion-only.
        _write_detail(
            timings, stream_stats, cc_stats, sf_val, subset, prov,
            partial=True, disk_timeline=disk_timeline,
        )
    total = round(time.perf_counter() - t_all, 3)

    # r10 VERDICT item 5: the headline wall INCLUDES harness work
    # (stream-metrics collection, scratch clearing, source splitting) —
    # r10's 268 s read as an 18% regression until per-query sums showed
    # 0.989×. Record the split explicitly so round-over-round
    # comparison stays honest.
    query_sec = round(sum(v for v in timings.values() if v >= 0), 3)
    detail = {
        "metric": "catalog_wall_clock",
        "value": total,
        "unit": "sec",
        "query_sec": query_sec,
        "harness_overhead_sec": round(total - query_sec, 3),
        "queries": timings,
        "stream_stats": stream_stats,
        "cc_stats": cc_stats,
        "disk_timeline": disk_timeline,
        "sf": sf_val,
        # r7: r5's sf10 history line silently carried a 28-query failed
        # tail (-1 markers only) that the round-6 wall-clock comparison
        # missed — surface the count at the top level so any failed run
        # is loud in round-over-round diffs.
        "n_failed": sum(1 for v in timings.values() if v < 0),
        **prov,
    }
    if subset is not None:
        detail["subset"] = True
    detail_path = os.path.join(OUT_DIR, "BENCH_DETAIL.json")
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    except OSError:
        pass
    # Append-only history (r4 VERDICT item 8): BENCH_DETAIL.json is
    # overwritten per run, so round-over-round regressions were only
    # provable for the queries that survived stdout-tail truncation.
    # One JSONL line per run keeps every full per-query map diffable.
    try:
        stamp = {"ts": time.strftime("%Y-%m-%dT%H:%M:%S"), **detail}
        with open(
            os.path.join(OUT_DIR, "BENCH_HISTORY.jsonl"),
            "a",
        ) as f:
            f.write(json.dumps(stamp, sort_keys=True) + "\n")
    except OSError:
        pass
    sys.stderr.write(json.dumps(detail) + "\n")

    failed = sorted(n for n, v in timings.items() if v < 0)
    ok = [v for v in timings.values() if v >= 0]
    summary = {
        "metric": "catalog_wall_clock",
        "value": total,
        "unit": "sec",
        "query_sec": query_sec,
        "harness_overhead_sec": round(total - query_sec, 3),
        "sf": sf_val,
        "n_queries": len(timings),
        "n_failed": len(failed),
        "max_query_sec": max(ok) if ok else -1.0,
        "detail": "BENCH_DETAIL.json",
    }
    if subset is not None:
        summary["subset"] = True
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
