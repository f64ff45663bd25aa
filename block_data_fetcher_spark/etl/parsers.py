"""Instruction parsers as column expressions (reference
``src/etl/parsers/system.rs:14-52`` and ``src/etl/parsers/token.rs:16-59``).

Each parser takes an instruction struct column (an element of the
``message.instructions`` array parsed with
:data:`..etl.schema.TX_JSON_SCHEMA`) and returns a nullable struct —
null when the instruction is not the targeted shape, exactly like the
reference's ``Option<...>`` returns. Pure expressions: usable inside
``filter``/``transform`` array lambdas, codegen'd, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SYSTEM_PROGRAM_ID = "11111111111111111111111111111111"
TOKEN_PROGRAM_ID = "TokenkegQfeZyiNwAJbNbGKPFXCWuBvf9Ss623VQ5DA"


def is_system_transfer(instr: Column) -> Column:
    """`parsed.type == 'transfer'` on the system program
    (reference system.rs:14-24: advanceNonce/createAccount/... → None)."""
    return (
        (instr["program"] == "system") | (instr["programId"] == SYSTEM_PROGRAM_ID)
    ) & (instr["parsed"]["type"] == "transfer")


def parse_system_transfer(instr: Column) -> Column:
    """(lamports, source, destination) or NULL (system.rs:26-52)."""
    info = instr["parsed"]["info"]
    return F.when(
        is_system_transfer(instr),
        F.struct(
            info["lamports"].alias("lamports"),
            info["source"].alias("source"),
            info["destination"].alias("destination"),
        ),
    )


def is_token_transfer(instr: Column) -> Column:
    """`type IN ('transfer','transferChecked')` on a token program
    (token.rs:16-27; mintTo/burn/... → None)."""
    return (
        (instr["program"] == "spl-token") | (instr["programId"] == TOKEN_PROGRAM_ID)
    ) & instr["parsed"]["type"].isin("transfer", "transferChecked")


def parse_token_transfer(instr: Column) -> Column:
    """(amount, mint, source, destination, authority) or NULL.

    amount = coalesce(info.amount, info.tokenAmount.amount) cast long —
    the string-or-number-or-nested union of token.rs:29-46; missing
    mint defaults 'unknown' (token.rs:52).
    """
    info = instr["parsed"]["info"]
    amount = F.coalesce(info["amount"], info["tokenAmount"]["amount"]).cast("long")
    return F.when(
        is_token_transfer(instr),
        F.struct(
            amount.alias("amount"),
            F.coalesce(info["mint"], F.lit("unknown")).alias("mint"),
            info["source"].alias("source"),
            info["destination"].alias("destination"),
            info["authority"].alias("authority"),
        ),
    )


def first_transfer(instructions: Column) -> Column:
    """The first system- or token-transfer instruction of a tx, or NULL
    (reference transform.rs:307-331 break-on-first-match).

    `element_at(filter(...), 1)` — the set-oriented restatement of the
    reference's imperative scan-and-break loop (P12).
    """
    return F.try_element_at(
        F.filter(
            instructions,
            lambda i: is_system_transfer(i) | is_token_transfer(i),
        ),
        F.lit(1),
    )


def transfer_details(first: Column) -> Column:
    """The :func:`first_transfer` instruction as a struct (amount,
    token, from_address, to_address), or NULL."""
    sys_d = parse_system_transfer(first)
    tok_d = parse_token_transfer(first)
    return F.when(
        sys_d.isNotNull(),
        F.struct(
            sys_d["lamports"].alias("amount"),
            F.lit("SOL").alias("token"),
            sys_d["source"].alias("from_address"),
            sys_d["destination"].alias("to_address"),
        ),
    ).when(
        tok_d.isNotNull(),
        F.struct(
            tok_d["amount"].alias("amount"),
            tok_d["mint"].alias("token"),
            tok_d["source"].alias("from_address"),
            tok_d["destination"].alias("to_address"),
        ),
    )
