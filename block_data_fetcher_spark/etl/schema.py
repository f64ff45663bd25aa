"""Schemas for the Solana-block ETL path (reference data model,
SURVEY §1.1-§1.2; migrations/ in the reference).

The wire shape is the reference's `getBlock` JsonParsed response
(``src/rpc/mod.rs:64-83``); the relational core mirrors its 5-table
Postgres schema with natural keys instead of BIGSERIAL surrogates
(SURVEY §1.2): blocks(slot), transactions(signature),
instructions(signature, instruction_index).
"""

from __future__ import annotations

# from_json schema for one transaction object (JsonParsed encoding).
# Union-typed fields are handled by declaring the widest useful type:
# - meta.err object-or-null  → string (raw JSON when present)
# - info.amount string-or-number → string (from_json coerces numbers)
# - accountKeys object-or-string elements → parsed as array<string>
#   (object elements surface as raw JSON; normalized downstream with
#   get_json_object — the analog of reference transform.rs:232-248)
TX_JSON_SCHEMA = """
    signatures array<string>,
    message struct<
        accountKeys array<string>,
        recentBlockhash string,
        instructions array<struct<
            programId: string,
            program: string,
            programIdIndex: int,
            parsed: struct<
                type: string,
                info: struct<
                    lamports: bigint,
                    source: string,
                    destination: string,
                    amount: string,
                    mint: string,
                    authority: string,
                    tokenAmount: struct<amount: string, decimals: int>
                >
            >,
            accounts array<string>,
            data string
        >>
    >,
    meta struct<err string, fee bigint>
"""

# getBlock response (one block): header fields + raw transactions.
# transactions kept as array<string> (raw JSON per tx): the block parse
# only splits the blob into per-tx strings, and each tx is parsed with
# TX_JSON_SCHEMA after the explode. The blob is parsed once per load:
# `extract.parse_block_json` produces the struct both tables derive from,
# and `load.load_blocks` persists it.
BLOCK_JSON_SCHEMA = """
    blockhash string,
    previousBlockhash string,
    parentSlot bigint,
    blockTime bigint,
    blockHeight bigint,
    transactions array<string>
"""
