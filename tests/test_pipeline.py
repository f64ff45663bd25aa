"""End-to-end pipeline tests: custom RPC source (offline) → extract →
classify → upsert sink; batch and streaming; idempotence (ST6)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from block_data_fetcher_spark.etl.extract import (
    extract_transactions,
    parse_blocks,
)
from block_data_fetcher_spark.etl.load import upsert_parquet
from block_data_fetcher_spark.sources.rpc import (
    SolanaRpcDataSource,
    read_slots,
    synthetic_block,
)


@pytest.fixture(scope="module")
def rpc_registered(spark):
    spark.dataSource.register(SolanaRpcDataSource)
    return spark


def _read_range(spark, start, end):
    return (
        spark.read.format("solana_rpc")
        .option("start_slot", start)
        .option("end_slot", end)
        .option("mode", "offline")
        .load()
    )


def test_rpc_batch_source(rpc_registered, spark):
    raw = _read_range(spark, 100, 119)
    assert raw.count() == 20
    assert raw.schema.simpleString() == "struct<slot:bigint,raw:string>"
    blocks = parse_blocks(raw)
    assert blocks.count() == 20
    txs = extract_transactions(raw)
    assert txs.count() == 80  # 4 per block
    types = {r.transaction_type for r in txs.select("transaction_type").distinct().collect()}
    # offline generator emits system transfers, token transfers, and
    # program_interaction-shaped txs (DEX id present via accountKeys)
    assert "sol_transfer" in types or "program_interaction" in types
    assert "spl_token_transfer" in types


def test_rpc_source_partitioned_fetch(rpc_registered, spark):
    raw = _read_range(spark, 0, 99)
    # batch_size default 10 → 10 partitions — the parallel fetch the
    # reference lists as future work
    assert raw.rdd.getNumPartitions() == 10
    assert raw.count() == 100


def test_rpc_retry_backoff_matches_reference():
    """ST3 parity (src/pipeline.rs:188-247, defaults src/cli.rs:99-100):
    3 attempts total, linear backoff delay×attempt between failures,
    last error re-raised once attempts are exhausted."""
    from block_data_fetcher_spark.sources.rpc import _with_retry

    sleeps: list[float] = []
    calls = {"n": 0}

    def flaky_then_ok():
        calls["n"] += 1
        if calls["n"] < 3:
            raise ConnectionError("transient")
        return {"slot": 42}

    out = _with_retry(flaky_then_ok, 3, 2.0, sleep=sleeps.append)
    assert out == {"slot": 42}
    assert calls["n"] == 3
    assert sleeps == [2.0, 4.0]  # linear: delay*1, delay*2

    calls["n"] = 0
    sleeps.clear()

    def always_fails():
        calls["n"] += 1
        raise TimeoutError("down")

    with pytest.raises(TimeoutError):
        _with_retry(always_fails, 3, 2.0, sleep=sleeps.append)
    assert calls["n"] == 3  # reference: retry_count >= max_retries → give up
    assert sleeps == [2.0, 4.0]


def test_rpc_retry_fails_fast_on_deterministic_errors():
    """ADVICE r5: a permanent failure (HTTP 4xx, malformed JSON body)
    must surface on the FIRST attempt — no backoff sleeps, no burned
    attempts — while transient 5xx/transport errors keep the full
    3-attempt budget."""
    import io
    import json
    import urllib.error

    from block_data_fetcher_spark.sources.rpc import _is_transient, _with_retry

    def http(code):
        return urllib.error.HTTPError(
            "http://x", code, "err", {}, io.BytesIO(b"")
        )

    # classifier: transport + 5xx/429/408 retry, 4xx/parse errors do not
    assert _is_transient(ConnectionError("reset"))
    assert _is_transient(TimeoutError("slow"))
    assert _is_transient(urllib.error.URLError("dns"))
    # truncated/garbled responses from a flaky server (ADVICE r6):
    # http.client exceptions subclass neither URLError nor
    # ConnectionError but are genuinely transient
    import http.client as _hc

    assert _is_transient(_hc.IncompleteRead(b"partial"))
    assert _is_transient(_hc.BadStatusLine("garbage"))
    assert _is_transient(_hc.RemoteDisconnected("closed"))
    assert _is_transient(http(503)) and _is_transient(http(429))
    assert not _is_transient(http(404)) and not _is_transient(http(400))
    assert not _is_transient(ValueError("bad payload"))
    assert not _is_transient(
        json.JSONDecodeError("Expecting value", "not-json", 0)
    )

    calls = {"n": 0}
    sleeps: list[float] = []

    def deterministic_404():
        calls["n"] += 1
        raise http(404)

    with pytest.raises(urllib.error.HTTPError):
        _with_retry(deterministic_404, 3, 2.0, sleep=sleeps.append)
    assert calls["n"] == 1  # fail-fast: one attempt, zero sleeps
    assert sleeps == []

    calls["n"] = 0

    def deterministic_parse_error():
        calls["n"] += 1
        raise json.JSONDecodeError("Expecting value", "<html>", 0)

    with pytest.raises(json.JSONDecodeError):
        _with_retry(deterministic_parse_error, 3, 2.0, sleep=sleeps.append)
    assert calls["n"] == 1
    assert sleeps == []

    calls["n"] = 0

    def flaky_503_then_ok():
        calls["n"] += 1
        if calls["n"] < 2:
            raise http(503)
        return "ok"

    assert _with_retry(flaky_503_then_ok, 3, 2.0, sleep=sleeps.append) == "ok"
    assert calls["n"] == 2  # 5xx kept its retry budget
    assert sleeps == [2.0]


def test_rpc_online_reader_retries_flaky_transport(monkeypatch):
    """The online batch reader must survive one transient fetch error
    per slot (flaky transport injected in place of the network) and
    emit every slot exactly once."""
    import block_data_fetcher_spark.sources.rpc as rpc

    failures: dict[int, bool] = {}

    def flaky_fetch(url, slot, timeout=30):
        if not failures.get(slot):
            failures[slot] = True
            raise ConnectionError(f"transient slot {slot}")
        return {"parentSlot": slot - 1, "blockTime": 1, "transactions": []}

    monkeypatch.setattr(rpc, "_fetch_block_rpc", flaky_fetch)
    monkeypatch.setattr(rpc, "RETRY_DELAY_S", 0.0)
    reader = rpc.SolanaRpcReader(
        {"start_slot": "5", "end_slot": "7", "mode": "online",
         "url": "http://injected", "retry_delay": "0"}
    )
    (part,) = reader.partitions()
    rows = list(reader.read(part))
    assert [slot for slot, _ in rows] == [5, 6, 7]
    assert all(failures[s] for s in (5, 6, 7))  # every slot failed once


def test_upsert_idempotent(spark, tmp_path):
    path = str(tmp_path / "tx_table")
    df1 = spark.createDataFrame(
        [("a", 1, 10.0), ("b", 1, 20.0)], "k string, v long, ts double"
    )
    assert upsert_parquet(spark, df1, path, ["k"], ["ts"]) == 2
    # re-load same batch → unchanged (ST6)
    assert upsert_parquet(spark, df1, path, ["k"], ["ts"]) == 2
    # newer write wins
    df2 = spark.createDataFrame([("a", 2, 11.0)], "k string, v long, ts double")
    assert upsert_parquet(spark, df2, path, ["k"], ["ts"]) == 2
    rows = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert rows == {"a": 2, "b": 1}
    # older write does NOT win (last-wins ordered by ts)
    df3 = spark.createDataFrame([("a", 99, 5.0)], "k string, v long, ts double")
    upsert_parquet(spark, df3, path, ["k"], ["ts"])
    rows = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert rows["a"] == 2


def test_upsert_restores_table_left_aside_by_crashed_swap(spark, tmp_path):
    """A swap that crashed between its two renames leaves the live
    table at `path.old` and nothing at `path`. The next upsert must
    move it back and merge into it, not load into an empty table and
    then delete `path.old`."""
    path = str(tmp_path / "tx_table")
    old = spark.createDataFrame(
        [("a", 1, 10.0), ("b", 1, 20.0)], "k string, v long, ts double"
    )
    upsert_parquet(spark, old, path, ["k"], ["ts"])
    os.replace(path, path + ".old")  # the crash point inside _atomic_swap
    new = spark.createDataFrame([("c", 1, 30.0)], "k string, v long, ts double")
    assert upsert_parquet(spark, new, path, ["k"], ["ts"]) == 3
    rows = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert rows == {"a": 1, "b": 1, "c": 1}
    assert not os.path.exists(path + ".old")


def test_upsert_failed_write_keeps_table_and_leaves_no_temp(spark, tmp_path):
    """A write that fails mid-job leaves the live table untouched and
    removes its `swap_*` temp dir."""
    from pyspark.errors import PySparkException

    path = str(tmp_path / "tx_table")
    good = spark.createDataFrame(
        [("a", 1, 10.0), ("b", 1, 20.0)], "k string, v long, ts double"
    )
    upsert_parquet(spark, good, path, ["k"], ["ts"])
    bad = spark.createDataFrame(
        [("c", 1, 30.0)], "k string, v long, ts double"
    ).withColumn("v", F.raise_error(F.lit("injected write failure")).cast("long"))
    with pytest.raises(PySparkException, match="injected write failure"):
        upsert_parquet(spark, bad, path, ["k"], ["ts"])
    rows = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert rows == {"a": 1, "b": 1}
    assert not [f for f in os.listdir(tmp_path) if f.startswith("swap_")]


def test_approx_distinct_error_bound(spark, sf_dir):
    """HLL++ sketch via the within-bound pattern: the query itself
    asserts |approx − exact|/exact ≤ 5% in its `within_bound` column
    (the oracle pins it to literal true); here we additionally check
    the raw estimate so a vacuously-true bound can't hide a break."""
    from block_data_fetcher_spark.operators.analytics import q_approx_distinct
    from block_data_fetcher_spark.catalog import table

    rows = q_approx_distinct(spark, sf_dir).collect()
    assert rows and all(r.within_bound for r in rows), rows
    ev = table(spark, sf_dir, "events")
    approx = {
        r.event_type: r.a
        for r in ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("a"))
        .collect()
    }
    exact = {r.event_type: r.exact_users for r in rows}
    assert set(approx) == set(exact)
    for et, est in approx.items():
        assert abs(est - exact[et]) / exact[et] < 0.05, (et, est, exact[et])


def test_approx_quantiles_error_bound(spark, sf_dir):
    """GK sketch via the within-bound pattern: the query's
    p50_in_bound/p90_in_bound flags must all be true, and the raw
    GK estimate's empirical rank must land within 5% of target."""
    from block_data_fetcher_spark.operators.analytics import q_approx_quantiles
    from block_data_fetcher_spark.catalog import table

    rows = q_approx_quantiles(spark, sf_dir).collect()
    assert rows and all(r.p50_in_bound and r.p90_in_bound for r in rows), rows
    ev = table(spark, sf_dir, "events")
    approx = {
        r.event_type: r.a
        for r in ev.groupBy("event_type")
        .agg(F.percentile_approx("value", [0.5, 0.9], 100).alias("a"))
        .collect()
    }
    vals: dict[str, list[float]] = {}
    for r in ev.select("event_type", "value").collect():
        vals.setdefault(r.event_type, []).append(r.value)
    for et, (a50, a90) in approx.items():
        xs = sorted(vals[et])
        # the estimate's rank must be within 5% of the target rank
        for target, est in ((0.5, a50), (0.9, a90)):
            rank = sum(1 for x in xs if x <= est) / len(xs)
            assert abs(rank - target) < 0.05, (et, target, est, rank)


def test_default_driver_mem_sizes_to_host(monkeypatch):
    """ADVICE r5: the driver-heap default must track the detected
    host/cgroup memory instead of assuming a 128 GiB box — 60% of the
    limit, clamped to [2g, 32g], env override always wins."""
    from block_data_fetcher_spark.session import default_driver_mem

    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    g = 1 << 30
    assert default_driver_mem(host_bytes=256 * g) == "32g"  # capped
    assert default_driver_mem(host_bytes=128 * g) == "32g"
    assert default_driver_mem(host_bytes=16 * g) == "9g"  # 60% of 16
    assert default_driver_mem(host_bytes=4 * g) == "2g"
    assert default_driver_mem(host_bytes=1 * g) == "2g"  # floor
    assert default_driver_mem(host_bytes=None) in {  # real detection
        f"{n}g" for n in range(2, 33)
    }
    monkeypatch.setenv("SPARK_DRIVER_MEM", "7g")
    assert default_driver_mem(host_bytes=4 * g) == "7g"  # env wins


def test_session_sizes_initial_shuffle_from_cores_not_fixture(
    spark, monkeypatch, tmp_path
):
    """get_spark starts AQE shuffles at SPARK_GRAFT_CPUS partitions,
    however large the catalog fixture under SPARK_GRAFT_SF_DIR is."""
    from block_data_fetcher_spark.session import get_spark

    with open(tmp_path / "x.parquet", "wb") as f:
        f.truncate(4 << 30)  # sparse 4 GiB
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    keys = (
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        "spark.sql.shuffle.partitions",
    )
    before = {k: spark.conf.get(k, None) for k in keys}
    try:
        assert get_spark().conf.get(keys[0]) == "4"
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_session_sizes_from_host_cpus_when_cpus_unset(spark, monkeypatch):
    """With SPARK_GRAFT_CPUS unset, get_spark sizes the session from
    os.cpu_count(), not from a fixed core count."""
    from block_data_fetcher_spark.session import get_spark

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    keys = (
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        "spark.sql.shuffle.partitions",
    )
    before = {k: spark.conf.get(k, None) for k in keys}
    try:
        conf = get_spark().conf
        assert conf.get(keys[0]) == str(os.cpu_count())
        assert conf.get(keys[1]) == str(max(os.cpu_count(), 8))
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_spatial_grid_rejects_non_divisor_cell(spark, sf_dir):
    """ADVICE r6: a cell_deg that doesn't tile 360° evenly (e.g. 0.7)
    leaves a narrower seam cell at the anti-meridian that can miss
    pairs silently — _radius_pairs must refuse it loudly."""
    import pytest as _pytest

    from block_data_fetcher_spark.operators.spatial import _radius_pairs

    pts = spark.createDataFrame(
        [(0, 10.0, 10.0)], "point_id long, lat double, lon double"
    )
    with _pytest.raises(ValueError, match="divide 360"):
        _radius_pairs(spark, sf_dir, points=pts, cell_deg=0.7)
    # divisors still work (0.75° is q_spatial_nn's grid, radius 40 km)
    _radius_pairs(
        spark, sf_dir, points=pts, radius_km=40.0, cell_deg=0.75
    ).collect()


def test_spatial_blocking_complete_incl_antimeridian(spark, sf_dir):
    """The grid-blocked pair join must equal brute force on a DENSE
    point set — including pairs straddling the anti-meridian (round-6
    fix: lon cells wrap modulo 360; the unwrapped grid silently
    missed 850 real pairs at sf1) and within/cross-cell pairs in both
    id orders (half-stencil coverage)."""
    import math

    from block_data_fetcher_spark.operators.spatial import (
        RADIUS_KM,
        _radius_pairs,
    )

    # clusters at the seam (±179.9x°), a mid-world cell-corner
    # cluster, and isolated far points; ids deliberately interleaved
    # so cross-cell pairs arrive in both id orders
    coords = [
        (0, 55.0, 179.95), (1, 55.1, -179.97), (2, 55.2, 179.80),
        (3, 54.9, -179.85), (4, -10.02, 0.98), (5, -9.97, 1.03),
        (6, -10.4, 0.6), (7, 30.0, 90.0), (8, 59.9, -120.0),
        (9, -10.05, 1.01), (10, 55.05, -179.99),
        # exact-duplicate stacks (r7 collapsed plan: within-position
        # pairs via the 0.0 fast path, cross via position expansion)
        (11, -10.02, 0.98), (12, -10.02, 0.98), (13, 55.05, -179.99),
    ]
    pts = spark.createDataFrame(
        coords, "point_id long, lat double, lon double"
    )
    got = {
        (r.id_a, r.id_b)
        for r in _radius_pairs(spark, sf_dir, points=pts).collect()
    }

    def hav(a, b):
        (_, la1, lo1), (_, la2, lo2) = a, b
        dphi = math.radians(la2 - la1) / 2
        dlmb = math.radians(lo2 - lo1) / 2
        x = (
            math.sin(dphi) ** 2
            + math.cos(math.radians(la1))
            * math.cos(math.radians(la2))
            * math.sin(dlmb) ** 2
        )
        return 2 * 6371.0 * math.asin(math.sqrt(x))

    want = {
        (coords[i][0], coords[j][0])
        for i in range(len(coords))
        for j in range(i + 1, len(coords))
        if hav(coords[i], coords[j]) <= RADIUS_KM
    }
    assert got == want
    # the collapsed (distinct-position) variant must emit the exact
    # same pair set, including the duplicate stacks at distance 0.0
    from block_data_fetcher_spark.operators.spatial import (
        _radius_pairs_collapsed,
    )

    collapsed = {
        (r.id_a, r.id_b): r.dist_km
        for r in _radius_pairs_collapsed(
            spark, sf_dir, points=pts
        ).collect()
    }
    assert set(collapsed) == want
    assert collapsed[(4, 11)] == 0.0 and collapsed[(11, 12)] == 0.0
    assert {p for p in want if 13 in p}, "seam stack must pair up"
    # the seam pairs must actually be exercised by this fixture
    seam = {p for p in want if {p[0], p[1]} & {0, 1, 10}}
    assert len(seam) >= 2, want


def test_spatial_nn_two_phase_equals_single_phase(spark):
    """r7: q_spatial_nn's density-adaptive two-phase search (small
    first ring, escalate only unmatched points to the full 40 km
    radius) must return EXACTLY the single-phase result. sf0.1 is the
    scale where a 35 km first ring genuinely splits the corpus — some
    points resolve in phase 1, most escalate — so both code paths and
    their union are exercised; a 5 km ring (below the lattice's 31 km
    min spacing) matches nobody and must degrade to a pure phase-2
    answer, also identical."""
    from block_data_fetcher_spark.operators.spatial import (
        _radius_pairs,
        q_spatial_nn,
        synth_points,
    )

    sf01 = "/root/testdata/sf0.1"
    single = sorted(
        map(tuple, q_spatial_nn(spark, sf01, phase1=None).collect())
    )
    assert single, "sf0.1 NN result must be non-empty (vacuity guard)"

    # forced split ring: assert BOTH phases contribute before comparing
    n_matched = (
        _radius_pairs(spark, sf01, radius_km=35.0, cell_deg=0.75)
        .select(F.explode(F.array("id_a", "id_b")).alias("point_id"))
        .distinct()
        .count()
    )
    assert 0 < n_matched < len(single), (
        "35 km ring must split sf0.1 into matched and escalated points"
    )
    two_phase = sorted(
        map(tuple, q_spatial_nn(spark, sf01, phase1=(35.0, 0.75)).collect())
    )
    assert two_phase == single

    # ring below the lattice min spacing: phase 1 empty, pure phase 2
    all_phase2 = sorted(
        map(tuple, q_spatial_nn(spark, sf01, phase1=(5.0, 0.1)).collect())
    )
    assert all_phase2 == single


def test_spatial_nn_colocated_fast_path(spark, sf_dir):
    """r7: points stacked on IDENTICAL coordinates (the sf1/sf10
    fixtures put ~4/~42 copies per position; production analogs: cell
    towers, city-centroid geocodes) must resolve through the exact
    0.0-distance window path — lowest other co-located id, no trig —
    while singleton-position points still ring-search the WHOLE corpus
    (their NN may sit at a multi-occupied position). Checked against
    python brute force over every path (auto/single/two-phase)."""
    import math

    from block_data_fetcher_spark.operators.spatial import (
        NN_RADIUS_KM,
        q_spatial_nn,
    )

    coords = [
        # three points stacked at A; two at B (~31 km from A);
        # singleton C whose NN is the stack at B; far-away singleton D
        # (no neighbor in 40 km -> no output row); seam stack E/E'
        (7, 10.0, 20.0), (3, 10.0, 20.0), (9, 10.0, 20.0),
        (5, 10.28, 20.0), (11, 10.28, 20.0),
        (2, 10.56, 20.0),
        (4, -50.0, 120.0),
        (6, 55.0, 179.999), (8, 55.0, 179.999), (1, 55.0, -179.999),
    ]
    pts = spark.createDataFrame(
        coords, "point_id long, lat double, lon double"
    )

    def hav(a, b):
        (la1, lo1), (la2, lo2) = a, b
        dphi = math.radians(la2 - la1) / 2
        dlmb = math.radians(lo2 - lo1) / 2
        x = (
            math.sin(dphi) ** 2
            + math.cos(math.radians(la1))
            * math.cos(math.radians(la2))
            * math.sin(dlmb) ** 2
        )
        return 2 * 6371.0 * math.asin(math.sqrt(x))

    want = {}
    for pid, la, lo in coords:
        best = None
        for qid, la2, lo2 in coords:
            if qid == pid:
                continue
            lo_pt, hi_pt = (
                ((la, lo), (la2, lo2)) if pid < qid else ((la2, lo2), (la, lo))
            )
            d = hav(lo_pt, hi_pt)
            if d <= NN_RADIUS_KM and (best is None or (d, qid) < best):
                best = (d, qid)
        if best is not None:
            want[pid] = (best[1], round(best[0] + 1e-9, 3) + 0.0)
    assert want[7] == (3, 0.0) and want[3] == (7, 0.0)  # stack sanity
    assert 4 not in want  # isolated point yields no row
    assert want[2][0] in (5, 11)  # singleton resolves to the B stack

    for ph in ("auto", None, (20.0, 0.375)):
        got = {
            r.point_id: (r.nn_id, r.dist_km)
            for r in q_spatial_nn(spark, sf_dir, phase1=ph, points=pts).collect()
        }
        assert got == want, f"phase1={ph}"


def test_spatial_nn_phase1_sizing():
    """The adaptive first ring: sparse corpora (every gate sf through
    sf1) stay single-phase; dense corpora get r0 = sqrt(3A/(pi N))
    with a 360-divisor cell obeying the 55*cell >= r0 completeness
    bound; radii shrink monotonically with density and a forced ring
    >= the query radius is rejected loudly."""
    import math

    import pytest as _pytest

    from block_data_fetcher_spark.operators.spatial import (
        _NN_CELL_LADDER,
        _nn_phase1,
        NN_RADIUS_KM,
        q_spatial_nn,
    )

    for n in (0, 150, 15000, 150000):  # gate scales + sf1: single-phase
        assert _nn_phase1(n) is None
    prev = NN_RADIUS_KM
    for n in (1_500_000, 15_000_000, 1_500_000_000):
        r0, cell = _nn_phase1(n)
        assert r0 < prev  # monotone in density
        assert 55.0 * cell >= r0  # completeness bound
        assert cell in _NN_CELL_LADDER
        assert math.isclose(
            round(360.0 / cell) * cell, 360.0, rel_tol=0, abs_tol=1e-9
        )
        prev = r0
    with _pytest.raises(ValueError, match="phase-1 radius"):
        q_spatial_nn(None, "/root/testdata/sf0.1", phase1=(45.0, 0.75))


# ---------------------------------------------------------------------------
# Online RPC path, end to end over a real socket (r6 verdict item 4):
# retry/backoff was only unit-tested with injected transports; here a
# localhost HTTP stub serves canned getBlock/getSlot JSON-RPC —
# including a 500-then-success slot, a skipped (result:null) slot, and
# a 404 slot — and SolanaRpcDataSource runs against it in online batch
# and streaming modes. Asserts rows, server-side retry counts,
# fail-fast on the 404, and the latest−20 finality lag
# (sources/rpc.py:230,283; reference src/pipeline.rs:188-247).


class _RpcStub:
    """Threaded localhost JSON-RPC stub. Per-slot behaviors:
    FLAKY_SLOT → HTTP 500 on the first getBlock, success after;
    NULL_SLOT → 200 with result:null (absent slot → log-and-skip);
    MISSING_SLOT → HTTP 404 (deterministic → must fail fast);
    SKIPPED_SLOTS → a JSON-RPC error object with that slot-skipped code;
    TRANSIENT_SLOTS → a JSON-RPC error object with that code on the
    first getBlock, success after;
    FATAL_SLOT → a JSON-RPC error object with an unlisted code.
    getSlot always answers HEAD. Hit counts are recorded server-side
    (the fetches run in Spark's Python workers — separate processes —
    so only the server can observe the true attempt counts)."""

    HEAD = 130
    FLAKY_SLOT = 103
    NULL_SLOT = 106
    MISSING_SLOT = 777
    SKIPPED_SLOTS = {111: -32007, 112: -32009}
    TRANSIENT_SLOTS = {113: -32004, 114: -32005, 115: -32014}
    FATAL_SLOT = 778

    def __init__(self):
        import http.server
        import json as _json
        import threading

        stub = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def log_message(self, *a):  # keep pytest output clean
                pass

            def do_POST(self):
                body = _json.loads(
                    self.rfile.read(int(self.headers["Content-Length"]))
                )
                method = body["method"]
                if method == "getSlot":
                    with stub.lock:
                        stub.hits["getSlot"] = stub.hits.get("getSlot", 0) + 1
                    return self._reply({"jsonrpc": "2.0", "id": 1,
                                        "result": stub.HEAD})
                slot = body["params"][0]
                with stub.lock:
                    stub.hits[slot] = stub.hits.get(slot, 0) + 1
                    nth = stub.hits[slot]
                if slot == stub.MISSING_SLOT:
                    self.send_error(404, "slot not found")
                    return
                if slot == stub.FLAKY_SLOT and nth == 1:
                    self.send_error(500, "transient")
                    return
                code = stub.SKIPPED_SLOTS.get(slot)
                if code is None and nth == 1:
                    code = stub.TRANSIENT_SLOTS.get(slot)
                if slot == stub.FATAL_SLOT:
                    code = -32602
                if code is not None:
                    return self._reply({"jsonrpc": "2.0", "id": 1, "error": {
                        "code": code, "message": f"slot {slot}"}})
                result = (
                    None
                    if slot == stub.NULL_SLOT
                    else _json.loads(synthetic_block(slot))
                )
                self._reply({"jsonrpc": "2.0", "id": 1, "result": result})

            def _reply(self, obj):
                data = _json.dumps(obj).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

        self.lock = threading.Lock()
        self.hits: dict = {}
        self.server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.url = f"http://127.0.0.1:{self.server.server_address[1]}"
        self.thread = threading.Thread(
            target=self.server.serve_forever, daemon=True
        )
        self.thread.start()

    def close(self):
        self.server.shutdown()
        self.server.server_close()


@pytest.fixture()
def rpc_stub():
    stub = _RpcStub()
    yield stub
    stub.close()


def _read_online(spark, stub, start, end):
    return (
        spark.read.format("solana_rpc")
        .option("mode", "online")
        .option("url", stub.url)
        .option("start_slot", start)
        .option("end_slot", end)
        .option("retry_delay", 0.05)  # keep the backoff sleeps fast
        .load()
    )


def test_rpc_online_batch_over_socket(rpc_registered, spark, rpc_stub):
    rows = _read_online(spark, rpc_stub, 100, 109).collect()
    got = {r.slot for r in rows}
    # the absent (result:null) slot is skipped, everything else lands
    assert got == set(range(100, 110)) - {rpc_stub.NULL_SLOT}
    # the flaky slot was retried exactly once (500 → success), and
    # retries stayed per-slot: healthy slots were fetched once
    assert rpc_stub.hits[rpc_stub.FLAKY_SLOT] == 2
    assert rpc_stub.hits[100] == 1 and rpc_stub.hits[rpc_stub.NULL_SLOT] == 1
    # payloads parse through the normal ETL path
    import json as _json

    raw = {r.slot: _json.loads(r.raw) for r in rows}
    assert raw[100]["blockhash"] == "BH100"


def test_rpc_online_404_fails_fast_over_socket(rpc_registered, spark, rpc_stub):
    with pytest.raises(Exception):
        _read_online(
            spark, rpc_stub, rpc_stub.MISSING_SLOT, rpc_stub.MISSING_SLOT
        ).collect()
    # deterministic 404 → exactly ONE attempt, no backoff retries
    assert rpc_stub.hits[rpc_stub.MISSING_SLOT] == 1


def test_rpc_error_objects_skip_retry_or_fail(rpc_registered, spark, rpc_stub):
    """A JSON-RPC error object skips the slot only for the slot-skipped
    codes; the not-yet-available codes retry, and any other code fails
    fast."""
    got = {r.slot for r in _read_online(spark, rpc_stub, 111, 115).collect()}
    assert got == set(rpc_stub.TRANSIENT_SLOTS)
    assert {s: rpc_stub.hits[s] for s in range(111, 116)} == {
        111: 1, 112: 1, 113: 2, 114: 2, 115: 2
    }
    with pytest.raises(Exception, match="-32602"):
        _read_online(
            spark, rpc_stub, rpc_stub.FATAL_SLOT, rpc_stub.FATAL_SLOT
        ).collect()
    assert rpc_stub.hits[rpc_stub.FATAL_SLOT] == 1


# read_slots: the batch read cli.run and the ETL catalog queries use, a
# mapInArrow over spark.range running the same per-slot fetch loop


def _read_slots_online(spark, stub, start, end):
    return read_slots(spark, {
        "mode": "online", "url": stub.url, "start_slot": start,
        "end_slot": end, "retry_delay": 0.05,
    })


def test_read_slots_offline_partitions_and_schema(spark):
    raw = read_slots(spark, {"start_slot": 0, "end_slot": 99, "batch_size": 10})
    assert raw.rdd.getNumPartitions() == 10
    assert raw.schema.simpleString() == "struct<slot:bigint,raw:string>"
    rows = raw.collect()
    assert sorted(r.slot for r in rows) == list(range(100))
    assert all(r.raw == synthetic_block(r.slot) for r in rows)


def test_read_slots_online_skips_retries_and_fails_fast(spark, rpc_stub):
    rows = _read_slots_online(spark, rpc_stub, 100, 109).collect()
    assert {r.slot for r in rows} == set(range(100, 110)) - {rpc_stub.NULL_SLOT}
    assert {s: rpc_stub.hits[s] for s in range(100, 110)} == {
        s: 2 if s == rpc_stub.FLAKY_SLOT else 1 for s in range(100, 110)
    }
    with pytest.raises(Exception):
        _read_slots_online(
            spark, rpc_stub, rpc_stub.MISSING_SLOT, rpc_stub.MISSING_SLOT
        ).collect()
    assert rpc_stub.hits[rpc_stub.MISSING_SLOT] == 1


def test_read_slots_error_object_is_not_a_skipped_slot(spark, rpc_stub):
    """Only the slot-skipped codes skip a slot; an error object with any
    other code fails the read instead of reading as an empty slot."""
    got = {r.slot for r in _read_slots_online(spark, rpc_stub, 111, 115).collect()}
    assert got == set(rpc_stub.TRANSIENT_SLOTS)
    with pytest.raises(Exception, match="-32602"):
        _read_slots_online(
            spark, rpc_stub, rpc_stub.FATAL_SLOT, rpc_stub.FATAL_SLOT
        ).collect()
    assert rpc_stub.hits[rpc_stub.FATAL_SLOT] == 1


def test_read_slots_plan_is_map_in_arrow_over_range(spark):
    raw = read_slots(spark, {"start_slot": 0, "end_slot": 39})
    plan = raw._jdf.queryExecution().optimizedPlan()
    assert plan.nodeName() == "MapInArrow"
    assert plan.children().size() == 1
    assert plan.children().apply(0).nodeName() == "Range"
    assert "RelationV2" not in plan.toString()
    assert "solana_rpc" not in plan.toString()


def _cli_online(stub, out, *flags):
    from block_data_fetcher_spark.cli import parse_args, run

    return run(parse_args(
        ["-s", "100", "-n", "10", "-r", stub.url, "-o", str(out), *flags]
    ))


def test_cli_max_retries_reaches_reader(rpc_registered, rpc_stub, tmp_path):
    """--max-retries 1 leaves no retry for the flaky slot's HTTP 500."""
    with pytest.raises(Exception):
        _cli_online(rpc_stub, tmp_path / "o", "--max-retries", "1",
                    "--retry-delay", "0")
    assert rpc_stub.hits[rpc_stub.FLAKY_SLOT] == 1


def test_cli_fetches_each_slot_once(rpc_registered, rpc_stub, tmp_path):
    """One cli.run loads both tables from one getBlock per slot; the
    default --max-retries retries the flaky slot once."""
    report = _cli_online(rpc_stub, tmp_path / "o", "--retry-delay", "0")
    assert {s: rpc_stub.hits[s] for s in range(100, 110)} == {
        s: 2 if s == rpc_stub.FLAKY_SLOT else 1 for s in range(100, 110)
    }
    assert report["blocks_loaded"] == 9  # NULL_SLOT skipped
    assert report["transactions_loaded"] == 36


def test_cli_run_of_only_skipped_slots(rpc_registered, spark, rpc_stub, tmp_path):
    """A run whose every slot is skipped (JSON-RPC -32007 / -32009)
    reports zeros and leaves both tables readable and empty; the next
    run into the same store loads as usual."""
    from block_data_fetcher_spark.cli import parse_args, run

    out = str(tmp_path / "o")

    def cli(start):
        return run(parse_args(["-s", str(start), "-n", "2", "-r", rpc_stub.url, "-o", out]))

    report = cli(111)
    assert {k: report[k] for k in ("blocks_loaded", "transactions_loaded", "total_fees", "success_rate")} == {
        "blocks_loaded": 0, "transactions_loaded": 0, "total_fees": 0, "success_rate": 0.0
    }
    assert [spark.read.parquet(f"{out}/{t}").count() for t in ("blocks", "transactions")] == [0, 0]
    report = cli(116)
    assert (report["blocks_loaded"], report["transactions_loaded"]) == (2, 8)


def _committed_slot(q) -> int:
    """One past the last slot a finished micro-batch of ``q`` committed
    (the source's offset arrives as a dict repr)."""
    import ast

    p = q.lastProgress
    return ast.literal_eval(p["sources"][0]["endOffset"])["slot"] if p else 0


def _continuous_until(spark, argv, slot) -> tuple[int, list]:
    """Run ``cli.run(argv)``, a ``--continuous`` run, in a thread until a
    micro-batch has committed through ``slot`` or the run fails; stop it
    and return the committed slot and the run's errors."""
    import threading
    import time

    from block_data_fetcher_spark.cli import parse_args, run

    errors = []

    def main():
        try:
            run(parse_args(argv))
        except Exception as e:  # reported by the main thread
            errors.append(e)

    thread = threading.Thread(target=main, daemon=True)
    thread.start()
    deadline = time.time() + 120
    q = None
    try:
        while q is None and time.time() < deadline and not errors:
            q = next(iter(spark.streams.active), None)
            time.sleep(0.05)
        while q is not None and _committed_slot(q) < slot and time.time() < deadline and not errors:
            time.sleep(0.05)
    finally:
        for active in spark.streams.active:
            active.stop()
        thread.join(timeout=60)
    assert not thread.is_alive()
    return (_committed_slot(q) if q is not None else 0), errors


def test_cli_continuous_writes_both_tables(rpc_registered, spark, tmp_path):
    """An offline --continuous run writes blocks and transactions that
    agree per committed slot: transaction_count = transaction rows.
    Every transaction it writes is classified."""
    out = str(tmp_path / "c")
    committed, errors = _continuous_until(spark, ["-s", "500", "-b", "5", "-o", out, "-c"], 510)
    assert not errors
    assert committed >= 510
    blocks = {
        r.slot: r.transaction_count
        for r in spark.read.parquet(f"{out}/blocks").where(F.col("slot") < committed).collect()
    }
    written = spark.read.parquet(f"{out}/transactions")
    txs = {
        r.block_slot: r["count"]
        for r in written.where(F.col("block_slot") < committed)
        .groupBy("block_slot").count().collect()
    }
    assert set(blocks) == set(range(500, committed))
    assert blocks == txs
    assert written.where(F.col("transaction_type").isNull()).count() == 0


def test_cli_continuous_resumes_after_restart(rpc_registered, spark, rpc_stub, tmp_path, monkeypatch):
    """A --continuous run that dies after two committed micro-batches,
    restarted into the same output, resumes from its checkpoint under
    the output: no slot below the committed offset is fetched again,
    the uncommitted batch is re-fetched once, no slot is missing and
    every signature lands once."""
    from block_data_fetcher_spark.etl import load
    from block_data_fetcher_spark.sources.rpc import FINALITY_LAG

    out = str(tmp_path / "c")
    argv = ["-s", "100", "-b", "3", "-r", rpc_stub.url, "-o", out, "-c", "--retry-delay", "0"]
    final = rpc_stub.HEAD - FINALITY_LAG + 1
    real_load = load.load_blocks
    calls = []

    def crash_third_batch(raw, output):
        calls.append(output)
        if len(calls) == 3:
            raise RuntimeError("injected crash")
        return real_load(raw, output)

    monkeypatch.setattr(load, "load_blocks", crash_third_batch)
    committed, errors = _continuous_until(spark, argv, final)
    assert errors and committed == 106  # batches [100, 103) and [103, 106)
    monkeypatch.setattr(load, "load_blocks", real_load)
    hits = dict(rpc_stub.hits)

    committed, errors = _continuous_until(spark, argv, final)
    assert not errors and committed == final
    refetched = {
        s: rpc_stub.hits.get(s, 0) - hits.get(s, 0) for s in range(100, 109)
    }
    assert refetched == {s: int(s >= 106) for s in range(100, 109)}
    slots = sorted(r.slot for r in spark.read.parquet(f"{out}/blocks").collect())
    assert slots == sorted(set(range(100, final)) - {rpc_stub.NULL_SLOT})
    txs = spark.read.parquet(f"{out}/transactions")
    assert txs.count() == txs.select("signature").distinct().count() == 4 * len(slots)


def test_cli_continuous_converges_after_half_committed_batch(
    rpc_registered, spark, rpc_stub, tmp_path, monkeypatch
):
    """A --continuous micro-batch whose ``transactions`` upsert commits
    but whose ``blocks`` upsert fails leaves the two tables out of step.
    The restart re-runs that batch, and the tables agree again: every
    tx slot has its block, each block's ``transaction_count`` is its tx
    rows, and no signature lands twice."""
    from block_data_fetcher_spark.etl import load
    from block_data_fetcher_spark.sources.rpc import FINALITY_LAG

    out = str(tmp_path / "c")
    argv = ["-s", "100", "-b", "3", "-r", rpc_stub.url, "-o", out, "-c", "--retry-delay", "0"]
    final = rpc_stub.HEAD - FINALITY_LAG + 1
    real_upsert = load.upsert_parquet
    block_upserts = []

    def fail_third_blocks_upsert(spark_, df, path, *args):
        if path.endswith("/blocks"):
            block_upserts.append(path)
            if len(block_upserts) == 3:
                raise RuntimeError("injected blocks failure")
        return real_upsert(spark_, df, path, *args)

    monkeypatch.setattr(load, "upsert_parquet", fail_third_blocks_upsert)
    committed, errors = _continuous_until(spark, argv, final)
    assert errors and committed == 106  # batches [100, 103) and [103, 106)

    def slots(table, column):
        return {r[0] for r in spark.read.parquet(f"{out}/{table}").select(column).distinct().collect()}

    # the third batch's transactions committed, its blocks did not
    assert slots("transactions", "block_slot") == set(range(100, 109)) - {rpc_stub.NULL_SLOT}
    assert slots("blocks", "slot") == set(range(100, 106))

    monkeypatch.setattr(load, "upsert_parquet", real_upsert)
    committed, errors = _continuous_until(spark, argv, final)
    assert not errors and committed == final
    blocks = {r.slot: r.transaction_count for r in spark.read.parquet(f"{out}/blocks").collect()}
    txs = spark.read.parquet(f"{out}/transactions")
    assert set(blocks) == slots("transactions", "block_slot") == set(range(100, final)) - {rpc_stub.NULL_SLOT}
    assert blocks == {r.block_slot: r["count"] for r in txs.groupBy("block_slot").count().collect()}
    assert txs.count() == txs.select("signature").distinct().count()


def test_cli_continuous_starts_at_finalized_head(rpc_registered, spark, rpc_stub, tmp_path):
    """``--continuous`` with ``--rpc-url`` and no ``-s`` starts at the
    finalized head (getSlot − FINALITY_LAG), not at slot 0."""
    from block_data_fetcher_spark.sources.rpc import FINALITY_LAG

    out = str(tmp_path / "c")
    final = rpc_stub.HEAD - FINALITY_LAG
    argv = ["-b", "3", "-r", rpc_stub.url, "-o", out, "-c", "--retry-delay", "0"]
    committed, errors = _continuous_until(spark, argv, final + 1)
    assert not errors and committed == final + 1
    assert {s for s in rpc_stub.hits if isinstance(s, int)} == {final}
    assert [r.slot for r in spark.read.parquet(f"{out}/blocks").collect()] == [final]


def test_stream_reader_caps_batches_and_rereads_ranges():
    """Each micro-batch holds at most ``batch_size`` slots, and
    ``readBetweenOffsets`` re-reads exactly ``[start, end)``."""
    from block_data_fetcher_spark.sources.rpc import SolanaRpcStreamReader

    reader = SolanaRpcStreamReader({"start_slot": 500, "batch_size": 3})
    rows, end = reader.read(reader.initialOffset())
    assert [slot for slot, _ in rows] == [500, 501, 502]
    assert end == {"slot": 503}
    again = reader.readBetweenOffsets({"slot": 500}, {"slot": 503})
    assert [slot for slot, _ in again] == [500, 501, 502]


def test_rpc_online_stream_respects_finality_lag(rpc_registered, spark, rpc_stub):
    """Streaming online mode over the socket: with head=130 the
    stream must stop at slot 110 (latest − 20 finality lag,
    src/main.rs:93-98) even though batch_size allows more."""
    stream = (
        spark.readStream.format("solana_rpc")
        .option("mode", "online")
        .option("url", rpc_stub.url)
        .option("start_slot", 100)
        .option("batch_size", 50)
        .option("retry_delay", 0.05)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("rpc_online_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    slots = {
        r.slot
        for r in spark.sql("SELECT slot FROM rpc_online_stream").collect()
    }
    lagged_head = rpc_stub.HEAD - 20
    assert max(slots) == lagged_head, (
        f"stream read past the finality lag: max={max(slots)}, "
        f"head−20={lagged_head}"
    )
    assert slots == set(range(100, lagged_head + 1)) - {rpc_stub.NULL_SLOT}
    assert rpc_stub.hits.get("getSlot", 0) >= 1


# --------------------------------------------------------------------------
# OPT-IN live soak (VERDICT r8 item 8) — never part of the gates.
# Set SPARK_GRAFT_LIVE_RPC_URL to a public Solana JSON-RPC endpoint
# (e.g. https://api.mainnet-beta.solana.com) to validate the latest−20
# finality lag against LIVE head movement over ~3 continuous polls —
# the behavior the reference stubs at src/main.rs:123-148. The sandbox
# has no egress, so this skips in CI; it exists for a real deployment
# preflight.
# --------------------------------------------------------------------------

_LIVE_RPC = os.environ.get("SPARK_GRAFT_LIVE_RPC_URL", "")


@pytest.mark.skipif(
    not _LIVE_RPC, reason="set SPARK_GRAFT_LIVE_RPC_URL to run the live soak"
)
def test_rpc_live_continuous_soak(rpc_registered, spark):
    """~3 processingTime polls against a live endpoint: every batch's
    max processed slot must trail the live head by ≥ the 20-slot
    finality lag at poll time, and the offset cursor must advance
    monotonically as the chain head moves (~2.5 slots/sec on
    mainnet)."""
    import json as _json
    import time as _time
    import urllib.request

    def live_head() -> int:
        req = urllib.request.Request(
            _LIVE_RPC,
            data=_json.dumps(
                {"jsonrpc": "2.0", "id": 1, "method": "getSlot", "params": []}
            ).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=15) as resp:
            return int(_json.loads(resp.read())["result"])

    head0 = live_head()
    start = head0 - 40  # recent, inside every node's retention
    stream = (
        spark.readStream.format("solana_rpc")
        .option("mode", "online")
        .option("url", _LIVE_RPC)
        .option("start_slot", start)
        .option("batch_size", 5)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("rpc_live_soak")
        .outputMode("append")
        .trigger(processingTime="5 seconds")
        .start()
    )
    try:
        maxes = []
        for _ in range(3):  # ~3 polls
            _time.sleep(6)
            rows = spark.sql(
                "SELECT max(slot) AS m FROM rpc_live_soak"
            ).collect()
            if rows and rows[0].m is not None:
                maxes.append((rows[0].m, live_head()))
    finally:
        q.stop()
    assert maxes, "no batches processed — endpoint unreachable or empty"
    for max_slot, head in maxes:
        assert max_slot <= head - 20, (
            f"processed past the finality lag: {max_slot} > {head} - 20"
        )
    assert maxes[-1][0] >= maxes[0][0]  # cursor advances with the chain
