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


def _write_detail(
    timings, stream_stats, cc_stats, sf_val, subset, prov, partial=False
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
    try:  # mapInArrow worker init (q_etl_* read the RPC source with it)
        from block_data_fetcher_spark.sources.rpc import read_slots

        read_slots(spark, {"start_slot": 0, "end_slot": 0}).count()
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
    t_all = time.perf_counter()
    for name in sorted(queries):
        fn = queries[name]
        hashing.LAST_CC_STATS.clear()
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
        # Connected-components convergence telemetry: star_components'
        # rounds / reason per CC-family query rides the artifact so
        # convergence regressions are visible without a rerun.
        # LAST_CC_STATS is cleared before each query, so a non-empty
        # dict here is attributable to THIS query.
        if hashing.LAST_CC_STATS:
            cc_stats[name] = dict(hashing.LAST_CC_STATS)
        # Incremental artifact: a pass that dies at query N (ENOSPC,
        # OOM-kill) still leaves the full per-query map on disk — the
        # summary/history line stays completion-only.
        _write_detail(
            timings, stream_stats, cc_stats, sf_val, subset, prov, partial=True
        )
    total = round(time.perf_counter() - t_all, 3)

    # r10 VERDICT item 5: the headline wall INCLUDES harness work
    # (stream-metrics collection, artifact writes, source splitting) —
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
