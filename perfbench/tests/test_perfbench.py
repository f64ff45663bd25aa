"""Self-tests of the benchmark's own parts: the chain generator, its
ledger against the engine's classifier, the lag computation, the
percentile sample rule and the mock RPC counters.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json

import pytest

from perfbench import chain, probes
from perfbench.mockrpc import HeadSchedule, MockRpc

# ------------------------------------------------------------------ generator


def test_generator_is_deterministic_per_seed():
    a = chain.generate(7, 1000, 6, 20)
    b = chain.generate(7, 1000, 6, 20)
    c = chain.generate(8, 1000, 6, 20)
    assert a.responses == b.responses
    assert a.txs == b.txs
    assert a.responses != c.responses


def test_generator_covers_every_classifier_outcome():
    c = chain.generate(3, 1000, 10, 200)
    assert {t.type for t in c.txs} == set(chain.TYPES)
    assert any(not t.success for t in c.txs)


# ------------------------------------------------------------------ ledger vs engine


def _tx(sig: str, keys: list, instrs: list, fee: int = 5000, failed: bool = False) -> dict:
    return {
        "signatures": [sig],
        "message": {"accountKeys": keys, "instructions": instrs},
        "meta": {"err": {"InstructionError": [0, "x"]} if failed else None, "fee": fee},
    }


def _hand_built_block() -> dict:
    payer, other = "Payer111", "Other111"
    sol = {
        "parsed": {"type": "transfer", "info": {"lamports": 42, "source": payer, "destination": other}},
        "program": "system",
        "programId": chain.SYSTEM,
    }
    token_checked = {
        "parsed": {
            "type": "transferChecked",
            "info": {"source": payer, "destination": other, "mint": "MintA", "tokenAmount": {"amount": "9"}},
        },
        "program": "spl-token",
        "programId": chain.TOKEN,
    }
    token_plain = {
        "parsed": {"type": "transfer", "info": {"source": payer, "destination": other, "amount": "5"}},
        "program": "spl-token",
        "programId": chain.TOKEN,
    }
    obj_keys = [{"pubkey": payer, "signer": True}, {"pubkey": other, "signer": False}]
    txs = [
        # DEX wins over Token and System
        _tx("s-dex", [payer, other, chain.COMPUTE_BUDGET], [{"programIdIndex": 2}, {"programId": chain.RAYDIUM}, token_plain]),
        # NFT wins over Token
        _tx("s-nft", obj_keys + [chain.METAPLEX], [{"programIdIndex": 2}, token_checked]),
        _tx("s-token", obj_keys, [token_checked], fee=7000),
        _tx("s-sol", [payer, other], [sol], failed=True),
        # two System programs: System present, but not exactly one program
        _tx("s-prog", [payer, other, chain.COMPUTE_BUDGET], [{"programIdIndex": 2}, sol]),
        _tx("s-unknown", [payer, other], [{"programId": chain.UNKNOWN_PROGRAM}]),
        _tx("s-empty", obj_keys, []),
    ]
    return {"blockhash": "h", "previousBlockhash": "p", "parentSlot": 9, "blockTime": 1_700_000_000, "transactions": txs}


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = SparkSession.builder.master("local[2]").appName("perfbench-tests").getOrCreate()
    yield s
    s.stop()


def _ledger(block: dict) -> dict:
    out = {}
    for tx in block["transactions"]:
        amount, token = chain.transfer_details(tx)
        out[tx["signatures"][0]] = (
            chain.classify(chain.program_ids(tx)),
            tx["meta"]["err"] is None,
            tx["meta"]["fee"],
            amount,
            token,
        )
    return out


def test_ledger_matches_engine_on_hand_built_and_generated_blocks(spark):
    from block_data_fetcher_spark.etl.extract import extract_transactions

    gen = chain.generate(5, 2000, 3, 40)
    blocks = {10: _hand_built_block()}
    for s in sorted(gen.block_times):
        blocks[s] = json.loads(gen.block_json(s))
    raw = spark.createDataFrame([(s, json.dumps(b)) for s, b in blocks.items()], "slot bigint, raw string")
    got = {
        r.signature: (r.transaction_type, r.success, r.fee, r.amount, r.token)
        for r in extract_transactions(raw).collect()
    }
    want = {}
    for b in blocks.values():
        want.update(_ledger(b))
    assert got == want
    hand = _ledger(blocks[10])
    assert [hand[s][0] for s in ("s-dex", "s-nft", "s-token", "s-sol", "s-prog", "s-unknown", "s-empty")] == [
        "dex_swap",
        "nft_mint",
        "spl_token_transfer",
        "sol_transfer",
        "program_interaction",
        "unknown",
        "unknown",
    ]


# ------------------------------------------------------------------ lag


def test_lag_on_a_synthetic_progress_trace():
    # head advances 2 slots/s from t0; a slot is final when head reaches slot + 20
    t0 = 1_700_000_000.0
    sched = HeadSchedule(head0=100 + chain.FINALITY_LAG - 1, t0=t0, rate=2.0, head_max=10**9)
    assert sched.final_time(99) == t0
    assert sched.final_time(101) == t0 + 1.0
    progress = [
        {  # first batch: no start offset yet, so it is not a measured batch
            "timestamp": "2023-11-14T22:13:20.000Z",
            "batchDuration": 500,
            "sources": [{"startOffset": None, "endOffset": '{"slot": 100}'}],
        },
        {  # dict-repr offsets, as some Spark versions report them
            "timestamp": "2023-11-14T22:13:21.000Z",
            "batchDuration": 1500,
            "durationMs": {"addBatch": 1200, "latestOffset": 30},
            "sources": [{"startOffset": "{'slot': 100}", "endOffset": "{'slot': 103}"}],
        },
        {  # idle trigger: no slots read
            "timestamp": "2023-11-14T22:13:23.000Z",
            "batchDuration": 5,
            "sources": [{"startOffset": '{"slot": 103}', "endOffset": '{"slot": 103}'}],
        },
        {
            "timestamp": "2023-11-14T22:13:23.000Z",
            "batchDuration": 1000,
            "sources": [{"startOffset": {"slot": 103}, "endOffset": {"slot": 104}}],
        },
    ]
    batches = probes.progress_batches(progress)
    assert [(b["first"], b["end"]) for b in batches] == [(100, 103), (103, 104)]
    assert batches[0]["add_batch_ms"] == 1200.0
    lags = probes.slot_lags(batches, [100, 101, 102, 103, 105], sched.final_time)
    # batch 1 commits at t0 + 2.5: slot 100 final at t0 + 0.5
    assert lags[100] == pytest.approx(2.0)
    assert lags[101] == pytest.approx(1.5)
    assert lags[102] == pytest.approx(1.0)
    assert lags[103] == pytest.approx(4.0 - 2.0)
    assert 105 not in lags  # never committed: counted late by the workload


# ------------------------------------------------------------------ percentiles


def test_p95_needs_200_samples():
    xs = [float(i) for i in range(199)]
    assert probes.percentile_or_none(xs, 0.95) is None
    with pytest.raises(ValueError):
        probes.percentile(xs, 0.95)
    xs.append(199.0)
    assert probes.percentile_or_none(xs, 0.95) == pytest.approx(189.05)
    assert probes.median([3.0]) == 3.0
    assert probes.percentile_or_none([], 0.5) is None


# ------------------------------------------------------------------ mock RPC


def test_mock_counters_on_a_two_slot_fetch():
    from block_data_fetcher_spark.sources.rpc import _fetch_block_rpc

    c = chain.generate(11, 500, 2, 5)
    with MockRpc(c, delay_s=0.0, workers=2) as rpc:
        first = _fetch_block_rpc(rpc.url, 500)
        second = _fetch_block_rpc(rpc.url, 501)
        again = _fetch_block_rpc(rpc.url, 500)
        assert _fetch_block_rpc(rpc.url, 502) is None  # past the chain: null
        counts = rpc.reset().snapshot()
        assert rpc.counters.getblock_calls == 0
    assert first == again
    assert [t["signatures"][0] for t in first["transactions"]] == [t.signature for t in c.txs if t.slot == 500]
    assert second["blockTime"] == c.block_times[501]
    served = len(c.responses[500]) * 2 + len(c.responses[501]) + len(b'{"jsonrpc":"2.0","id":1,"result":null}')
    assert counts == {
        "getblock_calls": 4,
        "getslot_calls": 0,
        "distinct_slots": 3,
        "bytes_served": served,
        "inflight_max": 1,
    }


def test_mock_serves_a_slot_only_once_final():
    c = chain.generate(11, 500, 2, 5)
    with MockRpc(c, delay_s=0.0, workers=1) as rpc:
        rpc.schedule = HeadSchedule(head0=500 + chain.FINALITY_LAG, t0=1e18, rate=1.0, head_max=10**9)
        assert rpc.handle({"method": "getSlot", "id": 1}) == b'{"jsonrpc": "2.0", "id": 1, "result": 520}'
        assert json.loads(rpc.handle({"method": "getBlock", "params": [500]}))["result"] is not None
        assert json.loads(rpc.handle({"method": "getBlock", "params": [501]}))["result"] is None
