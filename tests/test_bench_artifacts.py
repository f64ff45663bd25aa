"""Bench artifact contract (r10 VERDICT items 2/5/7): the summary line
and BENCH_DETAIL.json must carry execution-mode provenance, the
query-time/harness-time split, and CC convergence telemetry — these are
the fields round-over-round comparisons and multi-node claims rest on,
so a refactor that drops one must fail here, not in the next verdict.

One subprocess run of the real bench.py (subset mode, sf0.001) checks
all of it; the subset marker must also survive so a partial run can
never masquerade as a full-catalog number.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_summary_and_detail_carry_contract_fields(tmp_path):
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_ONLY="q_group_count,q_dup_clusters",
        SPARK_GRAFT_CPUS="4",
        # hermetic artifacts: never touch the repo-root BENCH_* files a
        # concurrently-running real bench may be writing incrementally
        SPARK_GRAFT_OUT_DIR=str(tmp_path),
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])

    # provenance: execution mode provable from the artifact alone
    assert summary["n_failed"] == 0
    assert summary["subset"] is True
    # query-vs-harness wall split
    assert summary["value"] >= summary["query_sec"] > 0
    # the harness only runs and times queries: no disk management
    # between them
    assert 0 <= summary["harness_overhead_sec"] < 2

    detail = json.load(open(os.path.join(str(tmp_path), "BENCH_DETAIL.json")))
    for k in ("master", "run_id", "spark_version", "host", "host_cpus"):
        assert detail.get(k), f"missing provenance field {k}"
    assert detail["master"].startswith("local")
    assert set(detail["queries"]) == {"q_group_count", "q_dup_clusters"}
    # CC telemetry rides the artifact for the CC-family query only
    assert "q_dup_clusters" in detail["cc_stats"], detail["cc_stats"]
    cc = detail["cc_stats"]["q_dup_clusters"]
    assert cc["rounds"] >= 1 and cc["reason"] == "converged"
    assert "q_group_count" not in detail["cc_stats"]
    assert detail["subset"] is True
