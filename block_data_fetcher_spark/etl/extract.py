"""Extract: raw block/transaction JSON → relational DataFrames
(reference ``src/etl/extract.rs`` re-expressed declaratively).

Input contract: a DataFrame ``(slot bigint, raw string)`` where ``raw``
is a `getBlock` JsonParsed response (the RPC source in
:mod:`..sources.rpc` produces exactly this; tests build it from the
reference's own fixture shapes).

Every step is a built-in expression: from_json → posexplode →
projections. Malformed rows don't kill the job: a failed parse yields
NULLs which are filtered — the declarative PERMISSIVE analog of the
reference's log-and-skip (``extract.rs:63-67``, ST5).

Parse once: :func:`parse_block_json` runs ``from_json`` over the block
blob, and both tables derive from its ``block`` struct
(:func:`blocks_from_parsed`, :func:`transactions_from_parsed`).
:func:`..load.load_blocks` persists that struct, so a load tokenizes each
block once; :func:`parse_blocks` and :func:`extract_transactions` are the
same functions composed over ``(slot, raw)``.

Scale: the flatten is a generator inside the scan stage (no shuffle);
classification is a map-literal lookup (zero shuffle). At 100 TB the
only exchanges are the ones the sinks need (partitioning by
date/slot-bucket at write).

Staging: a derived column that other columns read (account keys,
program ids, the first transfer, program types, the type) is projected
in its own `select` and read by name in the next one. Spark cannot
share work inside higher-order-function lambdas, so an inlined
``Column`` would re-run its lambdas at every use; `CollapseProject`
does not merge a stage into the next when that would duplicate a
non-cheap expression, so each stage runs once per row.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .parsers import first_transfer, transfer_details
from .schema import BLOCK_JSON_SCHEMA, TX_JSON_SCHEMA
from .transform import (
    classify_program_types,
    label_transaction,
    name_map,
    program_types,
)


def normalize_account_keys(keys: Column) -> Column:
    """accountKeys elements are `{"pubkey": ...}` objects or bare
    strings; normalize to plain pubkeys (reference transform.rs:232-248).
    Object elements arrive as raw JSON strings from the array<string>
    parse, so `get_json_object($.pubkey)` + coalesce does the union."""
    return F.transform(
        keys, lambda k: F.coalesce(F.get_json_object(k, "$.pubkey"), k)
    )


def extract_program_ids(instructions: Column, account_keys: Column) -> Column:
    """Per-instruction program id with first-seen-order dedup
    (reference extract.rs:116-163): coalesce(programId, program,
    accountKeys[programIdIndex]); array_distinct preserves first
    occurrence (the reference's O(n²) contains-loop, hash-based)."""
    per_instr = F.transform(
        instructions,
        lambda i: F.coalesce(
            i["programId"],
            i["program"],
            F.try_element_at(account_keys, i["programIdIndex"] + 1),
        ),
    )
    return F.array_distinct(F.filter(per_instr, lambda p: p.isNotNull()))


def parse_block_json(raw_blocks: DataFrame) -> DataFrame:
    """(slot, raw) → ``(slot, block)``: the one ``from_json`` over the
    block blob that both tables derive from."""
    return raw_blocks.select(
        F.col("slot").cast("long").alias("slot"),
        F.from_json("raw", BLOCK_JSON_SCHEMA).alias("block"),
    )


def blocks_from_parsed(parsed: DataFrame) -> DataFrame:
    """(slot, block) → blocks table (reference models.rs:12-18 /
    migrations/...create_blocks.sql)."""
    return parsed.select(
        "slot",
        F.col("block.blockhash").alias("blockhash"),
        F.col("block.parentSlot").alias("parent_slot"),
        F.timestamp_seconds(F.col("block.blockTime")).alias("block_time"),
        F.col("block.blockHeight").alias("block_height"),
        F.size(F.col("block.transactions")).cast("int").alias("transaction_count"),
    ).where(F.col("blockhash").isNotNull())


def parse_blocks(raw_blocks: DataFrame) -> DataFrame:
    """(slot, raw) → blocks table."""
    return blocks_from_parsed(parse_block_json(raw_blocks))


def _parsed_transactions(parsed: DataFrame) -> DataFrame:
    """(slot, block) → ``(block_slot, transaction_index, tx,
    account_keys)`` per transaction, ``account_keys`` normalized: the
    prologue of every tx-level extraction (reference P1,
    extract.rs:55-71)."""
    return (
        parsed.select(
            F.col("slot").alias("block_slot"),
            F.posexplode(F.col("block.transactions")).alias("transaction_index", "tx_raw"),
        )
        .select(
            "block_slot",
            "transaction_index",
            F.from_json("tx_raw", TX_JSON_SCHEMA).alias("tx"),
        )
        .select(
            "*",
            normalize_account_keys(F.col("tx.message.accountKeys")).alias("account_keys"),
        )
    )


def transactions_from_parsed(parsed: DataFrame) -> DataFrame:
    """(slot, block) → transactions table: the full tx-level extraction
    (reference extract.rs:74-163 + enrichment transform.rs:252-335):
    fields, classification, label, first transfer details — staged so
    each is computed once per tx (module docstring)."""
    ids, typed, classified, out = _transaction_stages(parsed.sparkSession.sparkContext._jvm)
    staged = (
        _parsed_transactions(parsed)
        .select(*ids)
        .select(*typed)
        .select(*classified)
        .select(*out)
    )
    # log-and-skip analog: a tx with no signature is unparseable
    return staged.where(F.col("signature").isNotNull())


def extract_transactions(raw_blocks: DataFrame) -> DataFrame:
    """(slot, raw) → transactions table."""
    return transactions_from_parsed(parse_block_json(raw_blocks))


@functools.lru_cache(maxsize=1)
def _transaction_stages(jvm) -> tuple[tuple, tuple, tuple, tuple]:
    """The columns of each :func:`transactions_from_parsed` select stage.

    Building them takes ~3,000 py4j round trips (PySpark records the
    call site of every Column call): ≈0.5 s on a 4-core host, about as
    long as extracting 40 blocks of 200 txs. A Column is an unresolved
    expression, valid on any frame that has the names it reads, so the
    stages are built once per JVM (``jvm`` is only the cache key) and
    reused."""
    instrs = F.col("tx.message.instructions")
    keys = F.col("account_keys")
    ids = (
        F.try_element_at(F.col("tx.signatures"), F.lit(1)).alias("signature"),
        "block_slot",
        "transaction_index",
        # success = meta.err IS NULL (extract.rs:79)
        F.col("tx.meta.err").isNull().alias("success"),
        F.coalesce(F.col("tx.meta.fee"), F.lit(0)).alias("fee"),
        extract_program_ids(instrs, keys).alias("program_ids"),
        F.try_element_at(keys, F.lit(1)).alias("signer"),
        F.size(F.col("tx.message.accountKeys")).cast("int").alias("num_accounts"),
        F.size(instrs).cast("int").alias("num_instructions"),
        first_transfer(instrs).alias("transfer"),
    )
    typed = (
        "*",
        program_types(F.col("program_ids")).alias("program_types"),
        transfer_details(F.col("transfer")).alias("details"),
    )
    classified = (
        "*",
        classify_program_types(F.col("program_ids"), F.col("program_types")).alias(
            "transaction_type"
        ),
    )
    out = (
        "signature",
        "block_slot",
        "transaction_index",
        "success",
        "fee",
        "program_ids",
        "transaction_type",
        label_transaction(F.col("program_ids"), F.col("transaction_type")).alias(
            "transaction_label"
        ),
        "signer",
        "num_accounts",
        "num_instructions",
        F.col("details.amount").alias("amount"),
        F.col("details.token").alias("token"),
        F.col("details.from_address").alias("from_address"),
        F.col("details.to_address").alias("to_address"),
    )
    return ids, typed, classified, out


def extract_instructions(raw_blocks: DataFrame) -> DataFrame:
    """tx → one row per instruction (reference models.rs:36-43;
    instructions explode to their own table, SURVEY §1.1)."""
    exploded = _parsed_transactions(parse_block_json(raw_blocks)).select(
        F.try_element_at(F.col("tx.signatures"), F.lit(1)).alias("transaction_signature"),
        "account_keys",
        F.posexplode(F.col("tx.message.instructions")).alias("instruction_index", "instr"),
    )
    with_pid = exploded.select(
        "*",
        F.coalesce(
            F.col("instr.programId"),
            F.col("instr.program"),
            F.try_element_at(F.col("account_keys"), F.col("instr.programIdIndex") + 1),
        ).alias("program_id"),
    )
    return with_pid.select(
        "transaction_signature",
        "instruction_index",
        "program_id",
        F.element_at(name_map(), F.col("program_id")).alias("program_name"),
        F.col("instr.parsed.type").alias("instruction_type"),
        F.col("instr.accounts").alias("accounts"),
    ).where(F.col("transaction_signature").isNotNull())


def account_activity(raw_blocks: DataFrame) -> DataFrame:
    """Per-address activity rollup — the reference's 5th table,
    ``accounts`` (``migrations/20251023000004_create_accounts.sql:4-25``),
    which its Rust code DECLARES but never populates (SURVEY §1.1: no
    ``INSERT INTO accounts`` exists). The engine populates it:
    explode every transaction's account keys and aggregate
    first/last-seen slot, total appearances, and as-signer count
    (signer = first account key, ``load.rs:221-236``).

    ``as_writable`` from the reference's DDL is NOT derivable from the
    JsonParsed shape the pipeline stores (writability needs the message
    header), so it is intentionally absent rather than faked.

    Scale: explode is a generator in the scan stage; the rollup is one
    hash aggregate on address with map-side partials — state is
    O(|addresses|), the same bound as the reference's table."""
    exploded = _parsed_transactions(parse_block_json(raw_blocks)).select(
        "block_slot",
        F.posexplode("account_keys").alias("key_index", "address"),
    ).where(F.col("address").isNotNull())
    return exploded.groupBy("address").agg(
        F.min("block_slot").alias("first_seen_slot"),
        F.max("block_slot").alias("last_seen_slot"),
        F.count("*").alias("transaction_count"),
        F.count_if(F.col("key_index") == 0).alias("as_signer_count"),
    )


def extraction_stats(transactions: DataFrame) -> DataFrame:
    """Reference A1 ExtractionStats (extract.rs:38-52) + A3 rates
    (pipeline.rs:30-54) as one agg."""
    return transactions.agg(
        F.count("*").alias("total_transactions"),
        F.count_if(F.col("success")).alias("successful_transactions"),
        F.count_if(~F.col("success")).alias("failed_transactions"),
        F.sum("fee").alias("total_fees"),
        F.round(
            F.when(F.count("*") == 0, 0.0).otherwise(
                F.count_if(F.col("success")) * 100.0 / F.count("*")
            ),
            2,
        ).alias("success_rate"),
    )
