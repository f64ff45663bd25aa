"""ETL-path unit tests mirroring the reference's 9 inline Rust tests
(SURVEY §5): parser edge cases over the JsonParsed fixture shapes from
FIXTURES.md §B, plus classification precedence (§7 risk list)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from block_data_fetcher_spark.etl.extract import (
    extract_instructions,
    extract_transactions,
    extraction_stats,
    parse_blocks,
)
from block_data_fetcher_spark.etl.parsers import (
    parse_system_transfer,
    parse_token_transfer,
)
from block_data_fetcher_spark.etl.schema import TX_JSON_SCHEMA
from block_data_fetcher_spark.etl.transform import (
    classify_transaction,
    classify_with_registry_join,
    registry_df,
)

SYSTEM_ID = "11111111111111111111111111111111"
TOKEN_ID = "TokenkegQfeZyiNwAJbNbGKPFXCWuBvf9Ss623VQ5DA"
DEX_ID = "675kPX9MHTjS2zt1qfr1NYHuzeLXfQM9H24wFSUt1Mp8"  # Raydium
NFT_ID = "metaqbxxUerdq28cj1RbAWkYQm3ybzjb6a8bt518x1s"  # Metaplex


def _instr_df(spark, instr: dict):
    """Wrap one instruction dict in a minimal tx and parse it."""
    tx = {"signatures": ["sig"], "message": {"accountKeys": [], "instructions": [instr]}}
    df = spark.createDataFrame([(json.dumps(tx),)], "tx_raw string")
    parsed = df.select(F.from_json("tx_raw", TX_JSON_SCHEMA).alias("tx"))
    return parsed.select(F.element_at("tx.message.instructions", 1).alias("i"))


# --- system parser (reference system.rs:58-97) -----------------------------


def test_parse_system_transfer(spark):
    instr = {
        "parsed": {
            "type": "transfer",
            "info": {
                "lamports": 1000,
                "source": "FY27ZyvXPv7vpGJkE788JHEXo",
                "destination": "HFqU5x63Z2bU7gRe",
            },
        },
        "program": "system",
        "programId": SYSTEM_ID,
    }
    row = _instr_df(spark, instr).select(parse_system_transfer(F.col("i")).alias("d")).head()
    assert row.d is not None
    assert row.d.lamports == 1000
    assert row.d.source == "FY27ZyvXPv7vpGJkE788JHEXo"
    assert row.d.destination == "HFqU5x63Z2bU7gRe"


def test_parse_system_transfer_non_transfer(spark):
    instr = {
        "parsed": {"type": "advanceNonce", "info": {"nonceAccount": "Nonce111"}},
        "program": "system",
        "programId": SYSTEM_ID,
    }
    row = _instr_df(spark, instr).select(parse_system_transfer(F.col("i")).alias("d")).head()
    assert row.d is None


# --- token parser (reference token.rs:65-135) ------------------------------


def test_parse_token_transfer_string_amount(spark):
    instr = {
        "parsed": {
            "type": "transfer",
            "info": {
                "amount": "1000000",
                "source": "TokenAccount1",
                "destination": "TokenAccount2",
                "mint": "EPjFWdd5AufqSSqeM2qN1xzybapC8G4wEGGkZwyTDt1v",
                "authority": "Authority1",
            },
        },
        "program": "spl-token",
        "programId": TOKEN_ID,
    }
    row = _instr_df(spark, instr).select(parse_token_transfer(F.col("i")).alias("d")).head()
    assert row.d.amount == 1000000
    assert row.d.mint == "EPjFWdd5AufqSSqeM2qN1xzybapC8G4wEGGkZwyTDt1v"


def test_parse_token_transfer_checked_nested_amount(spark):
    instr = {
        "parsed": {
            "type": "transferChecked",
            "info": {
                "tokenAmount": {"amount": "5000", "decimals": 6},
                "source": "A1",
                "destination": "A2",
                "mint": "Mint1",
                "authority": "Auth1",
            },
        },
        "program": "spl-token",
        "programId": TOKEN_ID,
    }
    row = _instr_df(spark, instr).select(parse_token_transfer(F.col("i")).alias("d")).head()
    assert row.d.amount == 5000
    assert row.d.mint == "Mint1"


def test_parse_token_transfer_missing_mint_defaults_unknown(spark):
    instr = {
        "parsed": {
            "type": "transfer",
            "info": {"amount": "42", "source": "A1", "destination": "A2"},
        },
        "program": "spl-token",
        "programId": TOKEN_ID,
    }
    row = _instr_df(spark, instr).select(parse_token_transfer(F.col("i")).alias("d")).head()
    assert row.d.mint == "unknown"


def test_parse_token_transfer_non_transfer(spark):
    instr = {
        "parsed": {"type": "mintTo", "info": {"amount": "1", "mint": "M"}},
        "program": "spl-token",
        "programId": TOKEN_ID,
    }
    row = _instr_df(spark, instr).select(parse_token_transfer(F.col("i")).alias("d")).head()
    assert row.d is None


# --- classification precedence (reference transform.rs:82-114) -------------


@pytest.mark.parametrize(
    "ids,expected",
    [
        ([DEX_ID, TOKEN_ID, SYSTEM_ID], "dex_swap"),  # DEX beats Token+System
        ([NFT_ID, TOKEN_ID], "nft_mint"),  # NFT beats Token
        ([TOKEN_ID, SYSTEM_ID], "spl_token_transfer"),  # Token beats System
        ([SYSTEM_ID], "sol_transfer"),  # exactly one System
        ([SYSTEM_ID, "SomeUnknownProgram111"], "program_interaction"),
        (["SomeUnknownProgram111"], "unknown"),
        ([], "unknown"),
    ],
)
def test_classify_precedence(spark, ids, expected):
    df = spark.createDataFrame([(ids,)], "program_ids array<string>")
    row = df.select(classify_transaction(F.col("program_ids")).alias("t")).head()
    assert row.t == expected


def test_classify_registry_join_matches_literal_map(spark):
    """Dynamic (broadcast-join) classifier must agree with the
    literal-map classifier on every precedence case."""
    cases = [
        ("t1", [DEX_ID, TOKEN_ID]),
        ("t2", [NFT_ID]),
        ("t3", [TOKEN_ID, SYSTEM_ID]),
        ("t4", [SYSTEM_ID]),
        ("t5", [SYSTEM_ID, "Unknown111"]),
        ("t6", ["Unknown111"]),
    ]
    df = spark.createDataFrame(cases, "signature string, program_ids array<string>")
    lit = {
        r.signature: r.t
        for r in df.select(
            "signature", classify_transaction(F.col("program_ids")).alias("t")
        ).collect()
    }
    joined = {
        r.signature: r.transaction_type
        for r in classify_with_registry_join(df, registry_df(spark)).collect()
    }
    assert lit == joined


# --- end-to-end extraction (reference extract.rs paths) --------------------


def _block_fixture() -> list[tuple[int, str]]:
    txs = [
        {  # SOL transfer, object accountKeys
            "signatures": ["sigA"],
            "message": {
                "accountKeys": [
                    {"pubkey": "Payer1", "signer": True},
                    {"pubkey": "Dest1"},
                    {"pubkey": SYSTEM_ID},
                ],
                "instructions": [
                    {
                        "parsed": {
                            "type": "transfer",
                            "info": {"lamports": 777, "source": "Payer1", "destination": "Dest1"},
                        },
                        "program": "system",
                        "programId": SYSTEM_ID,
                    }
                ],
            },
            "meta": {"err": None, "fee": 5000},
        },
        {  # failed tx, bare-string accountKeys, programIdIndex fallback
            "signatures": ["sigB"],
            "message": {
                "accountKeys": ["Payer2", "Other2", DEX_ID],
                "instructions": [{"programIdIndex": 2, "accounts": ["Payer2"], "data": "ab"}],
            },
            "meta": {"err": {"InstructionError": [0, "Custom"]}, "fee": 10000},
        },
    ]
    block = {
        "blockhash": "BH1",
        "parentSlot": 99,
        "blockTime": 1700000000,
        "blockHeight": 42,
        "transactions": [json.dumps(t) for t in txs],
    }
    return [(100, json.dumps(block))]


def test_parse_blocks(spark):
    raw = spark.createDataFrame(_block_fixture(), "slot long, raw string")
    b = parse_blocks(raw).head()
    assert (b.slot, b.blockhash, b.parent_slot, b.block_height, b.transaction_count) == (
        100,
        "BH1",
        99,
        42,
        2,
    )
    assert b.block_time.year == 2023


def test_extract_transactions_end_to_end(spark):
    raw = spark.createDataFrame(_block_fixture(), "slot long, raw string")
    txs = {r.signature: r for r in extract_transactions(raw).collect()}
    a, b = txs["sigA"], txs["sigB"]
    # sigA: successful SOL transfer with details
    assert a.success and a.fee == 5000 and a.transaction_type == "sol_transfer"
    assert a.signer == "Payer1" and a.num_accounts == 3 and a.num_instructions == 1
    assert (a.amount, a.token, a.from_address, a.to_address) == (777, "SOL", "Payer1", "Dest1")
    assert a.transaction_label == "sol_transfer (System Program)"
    # sigB: failed DEX tx; program id resolved via programIdIndex into
    # bare-string accountKeys
    assert not b.success and b.fee == 10000
    assert b.program_ids == [DEX_ID]
    assert b.transaction_type == "dex_swap"
    assert b.signer == "Payer2"


def test_extract_instructions(spark):
    raw = spark.createDataFrame(_block_fixture(), "slot long, raw string")
    instrs = {r.transaction_signature: r for r in extract_instructions(raw).collect()}
    assert instrs["sigA"].program_id == SYSTEM_ID
    assert instrs["sigA"].program_name == "System Program"
    assert instrs["sigA"].instruction_type == "transfer"
    assert instrs["sigB"].program_id == DEX_ID
    assert instrs["sigB"].accounts == ["Payer2"]


def test_extraction_stats(spark):
    raw = spark.createDataFrame(_block_fixture(), "slot long, raw string")
    s = extraction_stats(extract_transactions(raw)).head()
    assert s.total_transactions == 2
    assert s.successful_transactions == 1
    assert s.failed_transactions == 1
    assert s.total_fees == 15000
    assert s.success_rate == 50.0


def test_account_activity_rollup(spark):
    """The reference's declared-but-unpopulated accounts table
    (migrations/20251023000004) actually materializes here."""
    from block_data_fetcher_spark.etl.extract import account_activity

    raw = spark.createDataFrame(_block_fixture(), "slot long, raw string")
    rows = {r.address: r for r in account_activity(raw).collect()}
    # fee payers: exactly one signed appearance each
    assert rows["Payer1"].as_signer_count == 1
    assert rows["Payer2"].as_signer_count == 1
    assert rows["Dest1"].as_signer_count == 0
    assert rows["Payer1"].first_seen_slot == rows["Payer1"].last_seen_slot == 100
    for r in rows.values():
        assert r.first_seen_slot <= r.last_seen_slot
        assert 0 <= r.as_signer_count <= r.transaction_count


def test_load_blocks_reports_its_own_batch(spark, tmp_path):
    """A5 counters ride the load's own writes: ``load_blocks`` returns
    the batch's blocks, transactions, successes and fees, and a
    re-load into the same store reports the batch again, not the
    store."""
    from block_data_fetcher_spark.etl.load import load_blocks

    raw = spark.createDataFrame(_block_fixture(), "slot long, raw string")
    want = {
        "blocks_loaded": 1,
        "transactions_loaded": 2,
        "successful_transactions": 1,
        "total_fees": 15000,
    }
    out = str(tmp_path / "o")
    assert load_blocks(raw, out) == want
    assert load_blocks(raw, out) == want
    assert spark.read.parquet(f"{out}/transactions").count() == 2


def test_corrupt_records_skipped_not_fatal(spark):
    """ST5 continue-on-error (reference extract.rs:63-67, 277-281):
    malformed block or tx JSON yields NULLs that are filtered — the
    pipeline proceeds, never throws."""
    import json as _json

    good_tx = {
        "signatures": ["sigOK"],
        "message": {"accountKeys": ["P"], "instructions": []},
        "meta": {"err": None, "fee": 1},
    }
    block_with_bad_tx = {
        "blockhash": "BH_OK",
        "parentSlot": 1,
        "blockTime": 1700000000,
        "blockHeight": 2,
        "transactions": [_json.dumps(good_tx), "{not json", '{"no_signature": true}'],
    }
    rows = [
        (1, _json.dumps(block_with_bad_tx)),
        (2, "totally not a block"),
        (3, '{"parentSlot": 9}'),  # parseable but no blockhash
    ]
    raw = spark.createDataFrame(rows, "slot long, raw string")

    blocks = parse_blocks(raw).collect()
    assert [b.slot for b in blocks] == [1]  # corrupt + hashless dropped

    txs = extract_transactions(raw).collect()
    assert [t.signature for t in txs] == ["sigOK"]
    assert txs[0].success and txs[0].fee == 1


# --- staged extraction: each derived column computed once per tx ----------


def test_extract_transactions_plan_derives_each_column_once(spark):
    """Account keys, program ids and the first transfer are projected
    once and read by name; inlined as Columns, Spark re-ran their
    lambdas at every use (22 get_json_object, 60 transform)."""
    raw = spark.createDataFrame(_block_fixture(), "slot long, raw string")
    plan = extract_transactions(raw)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("get_json_object(") == 1
    assert plan.count("transform(") <= 6


def test_extract_transactions_schema_is_pinned(spark):
    raw = spark.createDataFrame(_block_fixture(), "slot long, raw string")
    got = [
        (f.name, f.dataType.simpleString(), f.nullable)
        for f in extract_transactions(raw).schema.fields
    ]
    assert got == [
        ("signature", "string", True),
        ("block_slot", "bigint", True),
        ("transaction_index", "int", False),
        ("success", "boolean", False),
        ("fee", "bigint", False),
        ("program_ids", "array<string>", True),
        ("transaction_type", "string", False),
        ("transaction_label", "string", False),
        ("signer", "string", True),
        ("num_accounts", "int", True),
        ("num_instructions", "int", True),
        ("amount", "bigint", True),
        ("token", "string", True),
        ("from_address", "string", True),
        ("to_address", "string", True),
    ]


def _expected_tx_row(slot: int, index: int, tx: dict) -> tuple:
    """All 15 extracted columns of one generated tx, computed in plain
    Python from the generator's own rules and the program registry."""
    from block_data_fetcher_spark.etl.transform import PROGRAM_REGISTRY_ROWS
    from perfbench import chain

    names = {pid: name for pid, name, _ in PROGRAM_REGISTRY_ROWS}
    ids = chain.program_ids(tx)
    ttype = chain.classify(ids)
    known = [names[p] for p in ids if p in names]
    label = f"{ttype} ({', '.join(known)})" if known else ttype
    amount, token = chain.transfer_details(tx)
    src = dst = None
    if token is not None:
        # the first instruction the generator's own transfer rule accepts
        first = next(
            i for i in tx["message"]["instructions"]
            if chain.transfer_details({"message": {"instructions": [i]}}) != (None, None)
        )
        src, dst = first["parsed"]["info"]["source"], first["parsed"]["info"]["destination"]
    keys = tx["message"]["accountKeys"]
    signer = keys[0]["pubkey"] if isinstance(keys[0], dict) else keys[0]
    return (
        tx["signatures"][0], slot, index, tx["meta"]["err"] is None, tx["meta"]["fee"],
        ids, ttype, label, signer, len(keys), len(tx["message"]["instructions"]),
        amount, token, src, dst,
    )


def test_extract_transactions_rows_match_generated_chain(spark):
    """Every column of every row on a seeded generated chain equals the
    plain-Python derivation: staging changes no output value."""
    from perfbench import chain

    gen = chain.generate(3, 4000, 12, 60)
    blocks = {s: gen.block_json(s) for s in sorted(gen.block_times)}
    raw = spark.createDataFrame(list(blocks.items()), "slot bigint, raw string")
    got = sorted(tuple(r) for r in extract_transactions(raw).collect())
    want = sorted(
        _expected_tx_row(s, i, tx)
        for s, b in blocks.items()
        for i, tx in enumerate(json.loads(b)["transactions"])
    )
    assert len(want) == len(gen.txs)
    assert got == want
