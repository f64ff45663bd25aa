"""The four benchmark workloads. Each drives the engine only through
its user-facing entry points (``cli.run``, Spark SQL over the tables
``etl.load`` wrote, ``pipelines.curate_corpus``), checks every output
against the generator's ledger, and fills a :class:`Run`.

Untraced runs time whole user operations. Traced runs (``--trace 1``)
additionally split the work at layer boundaries from the outside and
report the per-layer metrics; their timings are never end-to-end.
"""

from __future__ import annotations

import contextlib
import io
import itertools
import os
import random
import shutil
import threading
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field

from . import chain as chainmod
from . import corpus as corpusmod
from . import probes
from .mockrpc import HeadSchedule, MockRpc

FIRST_SLOT = 300_000_000
TXS_PER_BLOCK = 200
SERVICE_DELAY_S = 0.010  # per getBlock, a stand-in for the RPC round trip

BACKFILL_SLOTS = 40
BACKFILL_BATCH = 10  # slots per partition: 4 partitions, one per core of a 4-core box
BACKFILL_WARM_RUNS = 3  # full-size loads in set-up: the fourth one onwards runs at a near-steady speed

FOLLOW_PRELOAD_SLOTS = 150  # 2.5 backfills: the table every micro-batch rewrites
FOLLOW_RATE = 1.5  # slots per second, open loop
FOLLOW_WARM_SLOTS = 4
FOLLOW_BURST = 30  # slots made final at once after the open loop: the catch-up rate
FOLLOW_BATCH = 64  # max slots per micro-batch
FOLLOW_DRAIN_S = 20.0
PROGRESS_KEPT = 100_000  # Spark keeps 100 progress events by default

QUERY_PRELOAD_SLOTS = 60
QUERY_POOL = 600
QUERY_WARM_PER_CLIENT = 20  # 80 warm-up queries on 4 clients: four passes of the class cycle
# class, queries per 20. The shares keep the mix's median inside one
# class: by_signature and by_signer (the two fastest) make 40%, so the
# median falls within by_slot, not on the gap between two classes.
QUERY_MIX = (
    ("by_signature", 5),
    ("by_slot", 6),
    ("by_signer", 3),
    ("type_range_agg", 3),
    ("stats_report", 1),
    ("fees_by_hour", 2),
)

CURATE_DOCS = 12_000
CURATE_WARM_DOCS = 1_500


@dataclass
class Run:
    """What one workload run measured."""

    spark: object
    seed: int
    seconds: float
    trace: bool
    run_dir: str
    clients: int
    setup: dict = field(default_factory=dict)  # phase -> seconds
    attempted: int = 0
    failed: int = 0
    ops_per_s: float = 0.0  # operations as op_fail_ratio counts them
    latency_p50_ms: float = 0.0
    report: list = field(default_factory=list)  # (name, value, unit, n) for humans
    layer: dict = field(default_factory=dict)
    _dirs: itertools.count = field(default_factory=itertools.count)

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.run_dir, "data", f"{name}-{next(self._dirs)}")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        return path

    def timed_setup(self, phase: str, fn):
        t0 = time.perf_counter()
        out = fn()
        self.setup[phase] = time.perf_counter() - t0
        return out

    def say(self, name: str, value, unit: str, n: int | None = None) -> None:
        self.report.append((name, value, unit, n))


def _cli(args: list[str]) -> dict:
    from block_data_fetcher_spark import cli

    with contextlib.redirect_stdout(io.StringIO()):  # cli.run prints its report
        return cli.run(cli.parse_args(args))


def _backfill_args(url: str, first: int, n: int, out: str, batch: int) -> list[str]:
    return ["-s", str(first), "-n", str(n), "-r", url, "-o", out, "-b", str(batch)]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _preload(spark, c: chainmod.Chain, last: int, out: str) -> None:
    """Load a chain's slots up to ``last`` into a store the way
    ``cli.run`` does after its source (parse and extract, then one
    upsert per table), from the generator's blocks instead of RPC
    fetches: a preload only sizes the store, and fetching it would add
    its RPC cost to every run's set-up."""
    from pyspark.sql import functions as F

    from block_data_fetcher_spark.etl import load
    from block_data_fetcher_spark.etl.extract import extract_transactions, parse_blocks

    rows = [(s, c.block_json(s)) for s in sorted(c.block_times) if s <= last]
    raw = spark.createDataFrame(rows, "slot bigint, raw string")
    now = F.current_timestamp()
    load.upsert_parquet(spark, parse_blocks(raw).withColumn("processed_at", now), f"{out}/blocks", ["slot"], ["processed_at"])
    load.upsert_parquet(
        spark, extract_transactions(raw).withColumn("processed_at", now), f"{out}/transactions", ["signature"], ["processed_at"]
    )


# ------------------------------------------------------------------ checks


def _ledger_slots(c: chainmod.Chain, slots) -> dict[int, tuple]:
    per: dict[int, list] = {}
    for t in c.txs:
        if t.slot in slots:
            row = per.setdefault(t.slot, [0, 0, 0, 0, Counter()])
            row[0] += 1
            row[1] += t.fee
            row[2] += t.success
            row[3] += t.amount or 0
            row[4][t.type] += 1
    return {s: (r[0], r[0], r[1], r[2], r[3], tuple(r[4].get(k, 0) for k in chainmod.TYPES)) for s, r in per.items()}


def bad_slots(spark, c: chainmod.Chain, out: str, slots: list[int], with_blocks: bool) -> set[int]:
    """Slots whose loaded rows disagree with the ledger: row count,
    distinct signatures, fee total, successes, transfer amount and
    per-type counts (and, for a batch load, the block row)."""
    from pyspark.sql import functions as F

    slot_set = set(slots)
    txs = spark.read.parquet(f"{out}/transactions")
    type_cols = [F.sum((F.col("transaction_type") == k).cast("long")) for k in chainmod.TYPES]
    rows = (
        txs.where(F.col("block_slot").between(min(slots), max(slots)))
        .groupBy("block_slot")
        .agg(
            F.count("*"),
            F.countDistinct("signature"),
            F.sum("fee"),
            F.sum(F.col("success").cast("long")),
            F.sum(F.coalesce("amount", F.lit(0))),
            *type_cols,
        )
        .collect()
    )
    got = {r[0]: (r[1], r[2], r[3], r[4], r[5], tuple(r[6:])) for r in rows}
    want = _ledger_slots(c, slot_set)
    bad = {s for s in slot_set if got.get(s) != want.get(s)}
    # a signature loaded twice, anywhere in the table, breaks the key contract
    dup = txs.groupBy("signature").count().where("count > 1").select(F.min("signature")).head()[0]
    if dup is not None:
        bad |= slot_set
    if with_blocks:
        blocks = {
            r.slot: (r.transaction_count, int(r.block_time.timestamp()))
            for r in spark.read.parquet(f"{out}/blocks")
            .where(F.col("slot").between(min(slots), max(slots)))
            .select("slot", "transaction_count", "block_time")
            .collect()
        }
        for s in slot_set:
            expect = None if c.skipped(s) else (want.get(s, (0,))[0], c.block_times[s])
            if blocks.get(s) != expect:
                bad.add(s)
    return bad


# ------------------------------------------------------------------ backfill


def backfill(r: Run) -> None:
    n_slots = BACKFILL_SLOTS
    c = r.timed_setup(
        "generate", lambda: chainmod.generate(r.seed, FIRST_SLOT, n_slots, TXS_PER_BLOCK)
    )
    slots = list(range(c.first_slot, c.last_slot + 1))
    n_txs = len(c.txs)
    with MockRpc(c, SERVICE_DELAY_S, r.clients) as rpc:

        def warmup():
            # as many partitions as the timed loads, so every Python worker is started
            _cli(_backfill_args(rpc.url, FIRST_SLOT, n_slots // BACKFILL_BATCH, r.fresh_dir("warm"), 1))
            # the first full-size loads run slower while the JVM compiles them
            for _ in range(BACKFILL_WARM_RUNS):
                out = r.fresh_dir("warm")
                _cli(_backfill_args(rpc.url, c.first_slot, n_slots, out, BACKFILL_BATCH))
                shutil.rmtree(out, ignore_errors=True)

        r.timed_setup("warmup", warmup)
        rpc.reset()
        walls, staged_walls, rpc_counts, loads = [], [], [], []
        stage = defaultdict(list)
        acct = _write_accounting() if r.trace else None
        deadline = time.perf_counter() + r.seconds
        while True:
            out = r.fresh_dir("backfill")
            t0 = time.perf_counter()
            report = _cli(_backfill_args(rpc.url, c.first_slot, n_slots, out, BACKFILL_BATCH))
            walls.append(time.perf_counter() - t0)
            rpc_counts.append(rpc.reset())
            loads.append((out, report["transactions_loaded"]))
            if r.trace:
                staged_walls.append(_backfill_staged(r, rpc, c, stage, acct))
                rpc.reset()
            if time.perf_counter() >= deadline:
                break
    # checked after the timed loop, so the checks take no samples from it
    store_bytes = []
    for out, loaded in loads:
        bad = bad_slots(r.spark, c, out, slots, with_blocks=True)
        if loaded != n_txs:
            bad = set(slots)
        r.attempted += len(slots)
        r.failed += len(bad)
        store_bytes.append(probes.dir_bytes(f"{out}/blocks") + probes.dir_bytes(f"{out}/transactions"))
        shutil.rmtree(out, ignore_errors=True)
    r.ops_per_s = probes.median([len(slots) / w for w in walls])
    r.latency_p50_ms = probes.median(walls) * 1000.0
    r.say("cli_run_walls_s", " ".join(f"{w:.3f}" for w in walls), "s", len(walls))
    r.say("backfill_tx_per_s", probes.median([n_txs / w for w in walls]), "tx/s", len(walls))
    r.say("store_bytes_per_tx", probes.median(store_bytes) / n_txs, "B/tx", len(store_bytes))
    if r.trace:
        last = rpc_counts[-1].snapshot()
        r.layer.update(
            {
                "rpc.getblock_calls": last["getblock_calls"],
                "rpc.fetch_efficiency": last["distinct_slots"] / last["getblock_calls"],
                "rpc.bytes_served": last["bytes_served"],
                "rpc.inflight_max": max(x.inflight_max for x in rpc_counts),
                "trace.overhead_s": probes.median(staged_walls) - probes.median(walls),
            }
        )
        r.layer.update({k: probes.median(v) for k, v in stage.items()})
        r.layer["extract.tx_per_s"] = n_txs / r.layer["extract.tx_s"]
        r.layer.update(acct.metrics())


def _write_accounting() -> probes.WriteAccounting:
    from block_data_fetcher_spark.etl import load

    return probes.WriteAccounting(load)


def _backfill_staged(r: Run, rpc: MockRpc, c: chainmod.Chain, stage, acct) -> float:
    """The cli.run steps as separately drained calls: land the source,
    parse blocks, extract transactions, one upsert per table, stats."""
    from pyspark.sql import functions as F

    from block_data_fetcher_spark.etl import load
    from block_data_fetcher_spark.etl.extract import extract_transactions, extraction_stats, parse_blocks

    spark = r.spark
    land, out = r.fresh_dir("land"), r.fresh_dir("staged")
    t_all = time.perf_counter()
    t0 = time.perf_counter()
    (
        spark.read.format("solana_rpc")
        .option("start_slot", c.first_slot)
        .option("end_slot", c.last_slot)
        .option("batch_size", BACKFILL_BATCH)
        .option("mode", "rpc")
        .option("url", rpc.url)
        .load()
        .write.parquet(land)
    )
    stage["rpc.fetch_s"].append(time.perf_counter() - t0)
    raw = spark.read.parquet(land)
    t0 = time.perf_counter()
    _noop(parse_blocks(raw))
    stage["extract.blocks_s"].append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    _noop(extract_transactions(raw))
    stage["extract.tx_s"].append(time.perf_counter() - t0)
    now = F.current_timestamp()
    with acct:
        load.upsert_parquet(spark, parse_blocks(raw).withColumn("processed_at", now), f"{out}/blocks", ["slot"], ["processed_at"])
        load.upsert_parquet(
            spark, extract_transactions(raw).withColumn("processed_at", now), f"{out}/transactions", ["signature"], ["processed_at"]
        )
    t0 = time.perf_counter()
    extraction_stats(spark.read.parquet(f"{out}/transactions")).head()
    stage["query.stats_s"].append(time.perf_counter() - t0)
    wall = time.perf_counter() - t_all
    shutil.rmtree(land, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    return wall


# ------------------------------------------------------------------ follow


def _follow_chain(seed: int, n_follow: int) -> chainmod.Chain:
    pre = chainmod.generate(seed, FIRST_SLOT, FOLLOW_PRELOAD_SLOTS, TXS_PER_BLOCK)
    tail = chainmod.generate(seed + 1_000_003, pre.last_slot + 1, n_follow, TXS_PER_BLOCK)
    return chainmod.concat(pre, tail)


def _active_query(spark, timeout_s: float):
    end = time.time() + timeout_s
    while time.time() < end:
        if spark.streams.active:
            return spark.streams.active[0]
        time.sleep(0.05)
    raise TimeoutError("the continuous query did not start")


def _progress(q) -> list[dict]:
    import json

    return [json.loads(p.json) if hasattr(p, "json") else p for p in q.recentProgress]


def _committed_through(q) -> int:
    """One past the last slot a finished micro-batch committed."""
    import json

    p = q.lastProgress
    if p is None:
        return 0
    p = json.loads(p.json) if hasattr(p, "json") else p
    end = probes.parse_offset((p.get("sources") or [{}])[0].get("endOffset"))
    return end or 0


def follow(r: Run) -> None:
    n_measured = max(1, round(FOLLOW_RATE * r.seconds))
    n_follow = FOLLOW_WARM_SLOTS + n_measured + FOLLOW_BURST
    c = r.timed_setup("generate", lambda: _follow_chain(r.seed, n_follow))
    pre_end = FIRST_SLOT + FOLLOW_PRELOAD_SLOTS - 1
    warm_first = pre_end + 1
    measured_first = warm_first + FOLLOW_WARM_SLOTS
    burst_first = measured_first + n_measured
    # a traced run measures its first half plain and its second half traced
    traced_first = measured_first + n_measured // 2 if r.trace else None
    lag = chainmod.FINALITY_LAG
    out = r.fresh_dir("follow")
    acct = _write_accounting() if r.trace else None
    # every micro-batch of the run must stay in recentProgress
    r.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", str(PROGRESS_KEPT))
    with MockRpc(c, SERVICE_DELAY_S, r.clients) as rpc:
        far = time.time() + 1e9
        rpc.schedule = HeadSchedule(pre_end + lag, far, FOLLOW_RATE, c.last_slot + lag)
        r.timed_setup("preload", lambda: _preload(r.spark, c, pre_end, out))
        errors: list[BaseException] = []

        def follow_main():
            try:
                _cli(["-s", str(warm_first), "-r", rpc.url, "-o", out, "-b", str(FOLLOW_BATCH), "-c"])
            except BaseException as e:  # reported by the main thread
                errors.append(e)

        thread = threading.Thread(target=follow_main, name="follow", daemon=True)
        traced_from = float("inf")
        with contextlib.ExitStack() as stack:
            thread.start()
            try:
                q = _active_query(r.spark, 120)
                # warm-up: a few slots at once, so the first timed batch is not a cold one
                t0 = time.perf_counter()
                rpc.schedule = HeadSchedule(measured_first - 1 + lag, far, FOLLOW_RATE, c.last_slot + lag)
                end = time.time() + 120
                while _committed_through(q) < measured_first and time.time() < end and not errors:
                    time.sleep(0.05)
                r.setup["stream_warmup"] = time.perf_counter() - t0
                rpc.reset()
                gc0 = probes.jvm_gc_seconds(r.spark)
                schedule = HeadSchedule(measured_first - 1 + lag, time.time(), FOLLOW_RATE, burst_first - 1 + lag)
                rpc.schedule = schedule
                end = schedule.final_time(burst_first - 1) + FOLLOW_DRAIN_S
                while (done := _committed_through(q)) < burst_first and time.time() < end and not errors:
                    if traced_first is not None and traced_from == float("inf") and done >= traced_first:
                        stack.enter_context(acct)
                        traced_from = time.time()
                    time.sleep(0.05)
                burst = HeadSchedule(c.last_slot + lag, time.time(), FOLLOW_RATE, c.last_slot + lag)
                rpc.schedule = burst
                end = time.time() + FOLLOW_DRAIN_S
                while _committed_through(q) <= c.last_slot and time.time() < end and not errors:
                    time.sleep(0.05)
                r.layer["jvm.gc_s"] = probes.jvm_gc_seconds(r.spark) - gc0
                progress = _progress(q)
            finally:
                for active in r.spark.streams.active:
                    active.stop()
                thread.join(timeout=60)
        if errors:
            raise errors[0]
        counters = rpc.reset().snapshot()

    measured = list(range(measured_first, burst_first))
    batches = [b for b in probes.progress_batches(progress) if b["end"] > measured_first]
    open_loop = [b for b in batches if b["first"] < burst_first]
    lags = probes.slot_lags(open_loop, [s for s in measured if not c.skipped(s)], schedule.final_time)
    # catch-up lag of the burst's last slot; every burst slot must be committed by then
    caught_up = probes.slot_lags(batches, [c.last_slot], burst.final_time).get(c.last_slot)
    late = {s for s in measured if not c.skipped(s) and s not in lags}
    if caught_up is None:
        late |= set(range(burst_first, c.last_slot + 1))
    bad = bad_slots(r.spark, c, out, list(range(warm_first, c.last_slot + 1)), with_blocks=False)
    r.attempted = c.last_slot + 1 - measured_first
    r.failed = len({s for s in bad | late if s >= measured_first})
    lag_s = list(lags.values()) or [float("inf")]
    r.ops_per_s = FOLLOW_BURST / caught_up if caught_up else 0.0
    r.latency_p50_ms = probes.median(lag_s) * 1000.0
    r.say("follow_lag_p50_s", probes.median(lag_s), "s", len(lag_s))
    r.say("follow_lag_p95_s", probes.percentile_or_none(lag_s, 0.95), "s", len(lag_s))
    r.say("follow_catch_up_slots_per_s", r.ops_per_s, "1/s", FOLLOW_BURST)
    r.say("micro_batch_ms_p50", probes.median([b["batch_ms"] for b in open_loop]), "ms", len(open_loop))
    if r.trace:
        plain = [b["batch_ms"] for b in open_loop if b["start"] < traced_from]
        traced = [b["batch_ms"] for b in open_loop if b["start"] >= traced_from]
        r.layer.update(
            {
                "rpc.getblock_calls": counters["getblock_calls"],
                "rpc.fetch_efficiency": counters["distinct_slots"] / max(1, counters["getblock_calls"]),
                "rpc.bytes_served": counters["bytes_served"],
                "rpc.inflight_max": counters["inflight_max"],
                "rpc.getslot_calls": counters["getslot_calls"],
                "stream.latest_offset_ms_p50": probes.median([b["latest_offset_ms"] for b in open_loop]),
                "stream.batches": len(open_loop),
                "stream.slots_per_batch": probes.median([b["end"] - b["first"] for b in open_loop]),
                "stream.batch_ms_p50": probes.median([b["batch_ms"] for b in open_loop]),
                "stream.batch_ms_max": max(b["batch_ms"] for b in open_loop),
                "stream.add_batch_ms_p50": probes.median([b["add_batch_ms"] for b in open_loop]),
                # traced minus untraced micro-batch wall
                "trace.overhead_s": (probes.median(traced) - probes.median(plain)) / 1000.0 if plain and traced else 0.0,
            }
        )
        r.layer.update(acct.metrics())


# ------------------------------------------------------------------ query_mix


def _query_pool(c: chainmod.Chain, seed: int) -> list[tuple[str, object, object]]:
    """(class, build(spark) -> DataFrame, expected rows) triples; the
    expectation is computed from the ledger."""
    from pyspark.sql import functions as F

    from block_data_fetcher_spark.etl.extract import extraction_stats

    rng = random.Random(seed)
    by_slot: dict[int, list] = defaultdict(list)
    by_signer: dict[str, list] = defaultdict(list)
    for t in c.txs:
        by_slot[t.slot].append(t)
        by_signer[t.signer].append(t)
    loaded = sorted(by_slot)
    signers = sorted(by_signer)
    # the same class sequence for every seed: the seed picks only the
    # arguments, so a run's class shares (and its median) do not drift
    cycle = [k for k, w in QUERY_MIX for _ in range(w)]
    random.Random(0).shuffle(cycle)

    def slot_range():
        a = rng.choice(loaded)
        return a, a + rng.randrange(5, 30)

    pool = []
    for cls in itertools.islice(itertools.cycle(cycle), QUERY_POOL):
        if cls == "by_signature":
            t = rng.choice(c.txs)
            sql = (
                "SELECT block_slot, transaction_index, transaction_type, fee, success, signer "
                f"FROM transactions WHERE signature = '{t.signature}'"
            )
            want = [(t.slot, t.index, t.type, t.fee, t.success, t.signer)]
        elif cls == "by_slot":
            s = rng.choice(loaded)
            sql = f"SELECT signature FROM transactions WHERE block_slot = {s} ORDER BY transaction_index"
            want = [(t.signature,) for t in sorted(by_slot[s], key=lambda t: t.index)]
        elif cls == "by_signer":
            p = rng.choice(signers)
            sql = (
                f"SELECT signature FROM transactions WHERE signer = '{p}' "
                "ORDER BY block_slot DESC, transaction_index DESC LIMIT 20"
            )
            recent = sorted(by_signer[p], key=lambda t: (t.slot, t.index), reverse=True)[:20]
            want = [(t.signature,) for t in recent]
        elif cls == "type_range_agg":
            a, b = slot_range()
            sql = (
                "SELECT transaction_type, count(*) FROM transactions "
                f"WHERE block_slot BETWEEN {a} AND {b} GROUP BY transaction_type ORDER BY transaction_type"
            )
            want = sorted(Counter(t.type for t in c.txs_in(a, b)).items())
        elif cls == "stats_report":
            a, b = slot_range()
            sel = c.txs_in(a, b)
            ok = sum(t.success for t in sel)
            sql = (a, b)
            want = [(len(sel), ok, len(sel) - ok, sum(t.fee for t in sel), ok * 100.0 / len(sel))]
        else:  # fees_by_hour
            a, b = slot_range()
            sql = (
                "SELECT unix_timestamp(date_trunc('HOUR', b.block_time)) AS hour, "
                "sum(t.fee), count(*) FROM blocks b JOIN transactions t ON t.block_slot = b.slot "
                f"WHERE b.slot BETWEEN {a} AND {b} GROUP BY 1 ORDER BY 1"
            )
            agg: dict[int, list] = defaultdict(lambda: [0, 0])
            for t in c.txs_in(a, b):
                hour = c.block_times[t.slot] // 3600 * 3600
                agg[hour][0] += t.fee
                agg[hour][1] += 1
            want = [(h, v[0], v[1]) for h, v in sorted(agg.items())]
        if cls == "stats_report":

            def build(spark, ab=sql):
                return extraction_stats(spark.table("transactions").where(F.col("block_slot").between(*ab)))

        else:

            def build(spark, text=sql):
                return spark.sql(text)

        pool.append((cls, build, want))
    return pool


def _answer_ok(cls: str, rows, want) -> bool:
    got = [tuple(x) for x in rows]
    if cls != "stats_report":
        return got == want
    if len(got) != 1:
        return False
    g, w = got[0], want[0]
    return g[:4] == w[:4] and abs(g[4] - w[4]) <= 0.006


def _register_views(spark, out: str) -> None:
    spark.read.parquet(f"{out}/transactions").createOrReplaceTempView("transactions")
    spark.read.parquet(f"{out}/blocks").createOrReplaceTempView("blocks")


def _closed_loop(r: Run, pool, seconds: float, traced: bool, per_client: int | None = None):
    """``r.clients`` threads, each issuing its next query only after the
    previous one answered, for ``seconds`` or, when ``per_client`` is
    given, for that many queries each. Returns (samples, wall) where a
    sample is (class, seconds, ok, plan_s, scan)."""
    samples: list[tuple] = []
    lock = threading.Lock()
    deadline = time.perf_counter() + seconds

    def more(k: int) -> bool:
        return k < per_client * r.clients if per_client else time.perf_counter() < deadline

    def client(i: int):
        k = i
        while more(k):
            cls, build, want = pool[k % len(pool)]
            k += r.clients
            plan_s, scan = 0.0, None
            t0 = time.perf_counter()
            try:
                df = build(r.spark)
                if traced:
                    df._jdf.queryExecution().executedPlan()
                    plan_s = time.perf_counter() - t0
                ok = _answer_ok(cls, df.collect(), want)
                if traced:
                    scan = probes.scan_metrics(df)
            except Exception:  # a query that raises is a failed operation
                ok = False
            dt = time.perf_counter() - t0
            with lock:
                samples.append((cls, dt, ok, plan_s, scan))

    t0 = time.perf_counter()
    threads = [threading.Thread(target=client, args=(i,), name=f"client-{i}") for i in range(r.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return samples, time.perf_counter() - t0


def query_mix(r: Run) -> None:
    c = r.timed_setup(
        "generate", lambda: chainmod.generate(r.seed, FIRST_SLOT, QUERY_PRELOAD_SLOTS, TXS_PER_BLOCK)
    )
    out = r.fresh_dir("store")
    r.timed_setup("preload", lambda: _preload(r.spark, c, c.last_slot, out))
    pool = r.timed_setup("query_pool", lambda: _query_pool(c, r.seed))
    _register_views(r.spark, out)
    # warm-up: the closed loop itself, long enough that every class is
    # planned several times and the timed queries run at a steady speed
    r.timed_setup("warmup", lambda: _closed_loop(r, pool, 0.0, traced=False, per_client=QUERY_WARM_PER_CLIENT))

    if r.trace:
        plain, _ = _closed_loop(r, pool, r.seconds / 2, traced=False)
        gc0 = probes.jvm_gc_seconds(r.spark)
        traced, _ = _closed_loop(r, pool, r.seconds / 2, traced=True)
        r.layer["jvm.gc_s"] = probes.jvm_gc_seconds(r.spark) - gc0
        samples, wall = plain + traced, None
    else:
        samples, wall = _closed_loop(r, pool, r.seconds, traced=False)
    r.attempted = len(samples)
    r.failed = sum(not s[2] for s in samples)
    lat_ms = [s[1] * 1000.0 for s in samples]
    r.latency_p50_ms = probes.median(lat_ms)
    if wall is not None:
        r.ops_per_s = (r.attempted - r.failed) / wall
        r.say("query_qps", r.ops_per_s, "1/s", r.attempted)
    r.say("query_p50_ms", r.latency_p50_ms, "ms", len(lat_ms))
    r.say("query_p95_ms", probes.percentile_or_none(lat_ms, 0.95), "ms", len(lat_ms))
    if r.trace:
        for cls, _ in QUERY_MIX:
            xs = [s[1] * 1000.0 for s in plain if s[0] == cls]
            r.layer[f"query.{cls}.p50_ms"] = probes.median(xs) if xs else 0.0
        scans = [s[4] for s in traced if s[4] is not None]
        files = sum(x["files"] for x in scans)
        rows = sum(x["rows"] for x in scans)
        r.layer.update(
            {
                "query.plan_ms_p50": probes.median([s[3] * 1000.0 for s in traced]),
                "query.files_read": files / max(1, len(scans)),
                "query.bytes_read_per_row": sum(x["bytes"] for x in scans) / max(1, rows),
                "trace.overhead_s": (
                    probes.median([s[1] for s in traced]) - probes.median([s[1] for s in plain])
                ),
            }
        )


# ------------------------------------------------------------------ curate


def _write_corpus(r: Run, n_docs: int, seed: int) -> tuple[corpusmod.Corpus, str]:
    corp = corpusmod.generate(seed, n_docs)
    path = r.fresh_dir("corpus")
    r.spark.createDataFrame(corp.rows, "doc_id long, lang string, text string").write.parquet(path)
    return corp, path


def curate(r: Run) -> None:
    from block_data_fetcher_spark.pipelines import curate_corpus

    spark = r.spark
    corp, path = r.timed_setup("corpus", lambda: _write_corpus(r, CURATE_DOCS, r.seed))
    _, warm_path = r.timed_setup("warm_corpus", lambda: _write_corpus(r, CURATE_WARM_DOCS, r.seed + 1))
    r.timed_setup("warmup", lambda: curate_corpus(spark.read.parquet(warm_path)).collect())

    walls, kept = [], 0
    gc0 = probes.jvm_gc_seconds(spark)
    deadline = time.perf_counter() + r.seconds
    while True:
        t0 = time.perf_counter()
        ids = {row.doc_id for row in curate_corpus(spark.read.parquet(path)).select("doc_id").collect()}
        walls.append(time.perf_counter() - t0)
        wrong = (corp.must_keep - ids) | (corp.must_drop & ids)
        r.attempted += CURATE_DOCS
        r.failed += len(wrong)
        kept = len(ids)
        if time.perf_counter() >= deadline:
            break
    r.ops_per_s = probes.median([CURATE_DOCS / w for w in walls])
    r.latency_p50_ms = probes.median(walls) * 1000.0
    r.say("curate_docs_per_s", r.ops_per_s, "docs/s", len(walls))
    if r.trace:
        r.layer["jvm.gc_s"] = probes.jvm_gc_seconds(spark) - gc0
        r.layer["curate.docs_kept"] = kept
        staged = _curate_staged(r, path)
        r.layer["trace.overhead_s"] = staged - probes.median(walls)


def _curate_staged(r: Run, path: str) -> float:
    """curate_corpus's stages, each drained into a materialized frame
    before the next starts."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from block_data_fetcher_spark.functions.hashing import minhash_pairs
    from block_data_fetcher_spark.functions.text import quality_score, token_count
    from block_data_fetcher_spark.pipelines import NEAR_DUP_SIM, QUALITY_MIN

    docs = r.spark.read.parquet(path)
    t_all = t0 = time.perf_counter()
    scored = (
        docs.select("doc_id", "lang", "text", quality_score("text").alias("quality"))
        .where(F.col("quality") >= QUALITY_MIN)
        .localCheckpoint()
    )
    r.layer["curate.quality_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    w = Window.partitionBy("text").orderBy("doc_id")
    uniq = (
        scored.withColumn("__rn", F.row_number().over(w)).where("__rn = 1").drop("__rn").localCheckpoint()
    )
    r.layer["curate.exact_dedup_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    pairs = minhash_pairs(uniq.select("doc_id", "text")).localCheckpoint()
    r.layer["hashing.minhash_pairs_s"] = time.perf_counter() - t0
    candidates = pairs.count()
    near = pairs.where(F.col("est_sim") >= NEAR_DUP_SIM)
    r.layer["hashing.candidate_pairs"] = candidates
    r.layer["hashing.pair_yield"] = near.count() / max(1, candidates)
    t0 = time.perf_counter()
    dupes = near.select(F.col("doc_b").alias("doc_id")).distinct()
    _noop(uniq.join(dupes, "doc_id", "left_anti").select("doc_id", "lang", token_count("text").alias("n_tokens")))
    r.layer["curate.anti_join_s"] = time.perf_counter() - t0
    return time.perf_counter() - t_all


WORKLOADS = {"backfill": backfill, "follow": follow, "query_mix": query_mix, "curate": curate}
